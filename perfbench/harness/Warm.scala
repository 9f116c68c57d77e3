package graft.perfbench

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

/** Class-loading training run for the JVM's class-data-sharing archive
  * (made at build time): touches the session, parquet, SQL, window,
  * join and streaming code paths every workload loads, so their classes
  * come from the archive instead of 300 jars. Measures nothing.
  */
object Warm {
  def run(ctx: Ctx): Outcome = {
    val spark = ctx.spark
    val dir = s"${ctx.work}/warm"
    val df = spark.range(2000).select(col("id"), (col("id") % 7).as("k"), md5(col("id").cast("string")).as("s"))
    df.write.mode("overwrite").parquet(s"$dir/src")
    val back = spark.read.parquet(s"$dir/src")
    back.groupBy("k").agg(count(lit(1)), sum("id")).collect()
    back.join(back.select(col("id"), col("k").as("k2")), Seq("id")).where(col("k2") > 2).count()
    graft.operators.Upsert.latestByKey(back, Seq("k"), Seq("id")).collect()
    val q = spark.readStream.schema(back.schema).parquet(s"$dir/src").writeStream
      .trigger(Trigger.AvailableNow()).option("checkpointLocation", s"$dir/ckpt")
      .foreachBatch((b: DataFrame, _: Long) => { b.write.mode("overwrite").parquet(s"$dir/out"); () })
      .start()
    q.awaitTermination()
    Outcome(0, Nil, 0, 0, 1, 1, 1, Nil, Nil, 1, 1, Nil, Map.empty, Map.empty, Map.empty)
  }
}
