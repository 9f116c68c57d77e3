"""Independent correctness checks, computed with DuckDB from the generated
inputs and the program's exported outputs. Each returns a list of
failure messages (empty when the outputs are correct).
"""
import duckdb

LINEITEM = ["l_orderkey", "l_linenumber", "l_partkey", "l_suppkey", "l_quantity", "l_extendedprice",
            "l_discount", "l_tax", "l_returnflag", "l_linestatus", "l_shipdate", "l_comment", "l_version"]


def _files(paths):
    return "[" + ",".join("'" + p.replace("'", "''") + "'" for p in paths) + "]"


def cdc(inputs, meta, exports):
    """Latest-per-key over the seed plus every landed blob must equal the
    final target, compared as an order-independent hash of all columns."""
    con = duckdb.connect()
    blobs = [f for f in exports["blobs"].split(",") if f]
    cols = ", ".join(LINEITEM)
    con.execute(f"CREATE VIEW allrows AS SELECT {cols} FROM read_parquet({_files([inputs + '/' + meta['seed_file']] + blobs)})")
    con.execute(f"""CREATE VIEW expected AS SELECT {cols} FROM allrows
        QUALIFY row_number() OVER (PARTITION BY l_orderkey, l_linenumber ORDER BY l_version DESC) = 1""")
    con.execute(f"CREATE VIEW actual AS SELECT {cols} FROM read_parquet('{exports['final']}/*.parquet')")
    q = f"SELECT count(*), sum(hash({cols})::HUGEINT), count(DISTINCT (l_orderkey, l_linenumber))"
    exp = con.execute(q + " FROM expected").fetchone()
    act = con.execute(q + " FROM actual").fetchone()
    out = []
    if exp != act:
        out.append(f"final target (rows, hash, keys) {act} != latest-per-key oracle {exp}")
    return out


def curate(meta, exports):
    """Each exact-duplicate cluster keeps at most one doc, every contaminated
    doc is removed, and every doc's packed sequence is the one its
    exclusive token prefix (in doc_id order) selects, so no sequence
    starts a doc past its token budget."""
    con = duckdb.connect()
    con.execute(f"CREATE VIEW out AS SELECT * FROM read_parquet('{exports['final']}/*.parquet')")
    kept = {r[0] for r in con.execute("SELECT doc_id FROM out").fetchall()}
    out = []
    zero = 0
    for c in meta["clusters"]:
        n = len(kept.intersection(c))
        if n > 1:
            out.append(f"exact-duplicate cluster {c} kept {n} docs")
        zero += n == 0
    leaked = kept.intersection(meta["contaminated"])
    if leaked:
        out.append(f"contaminated docs survived: {sorted(leaked)[:10]}")
    budget = meta["token_budget"]
    bad = con.execute(f"""
        WITH t AS (SELECT doc_id, seq_id, len(string_split_regex(trim(text), '\\s+')) AS ntok FROM out),
        p AS (SELECT *, coalesce(sum(ntok) OVER (ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING
                AND 1 PRECEDING), 0) AS before FROM t)
        SELECT count(*) FROM p WHERE seq_id != before // {budget}""").fetchone()[0]
    if bad:
        out.append(f"{bad} docs packed into a sequence other than their token prefix selects")
    stats = con.execute(f"""SELECT max(s), count(*) FROM (SELECT seq_id,
        sum(len(string_split_regex(trim(text), '\\s+'))) AS s FROM out GROUP BY seq_id)""").fetchone()
    return out, dict(clusters_with_no_survivor=zero, clusters=len(meta["clusters"]),
                     max_sequence_tokens=stats[0], sequences=stats[1], kept_docs=len(kept))
