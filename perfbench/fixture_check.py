"""Compare the benchmark's generated tables with the engine's test fixtures.

    python3 perfbench/fixture_check.py FIXTURE_DIR SF

FIXTURE_DIR holds the fixture parquet files at scale SF (the fixtures are
produced outside the repository, see FIXTURES.md). The script generates the
same scale as the benchmark does (into .perfbench_cache/) and prints, side by
side, the figures the workloads' costs depend on: row counts, the value
ranges the query filters hit, category shares, the documents'
near-duplicate structure and the LSH bucket and candidate-pair volumes of
the two LSH curation queries. It runs on DuckDB only.
"""

import sys

import protocol
import run

sys.path.insert(0, run.ROOT)

from presto_0_235_spark.operators import dedup as dd  # noqa: E402
from presto_0_235_spark.queries import extensions_q as xq  # noqa: E402

_LSH = f"""
WITH d AS (SELECT doc_id, {xq._SHINGLES} AS sh FROM documents),
sig AS (SELECT doc_id, {xq._SIG} AS sig FROM d),
bands AS ({xq._BAND_SELECTS}),
buckets AS (SELECT band_id, band_key, count(*) AS c FROM bands
            GROUP BY 1, 2)
"""
_PIPELINE = f"""
WITH q AS (
  SELECT doc_id, {xq._P_SH2} AS sh,
         md5({dd.sql_normalized_text('text')}) AS ckey
  FROM documents
  WHERE len({xq._P_TOKS}) >= 20
    AND len(list_distinct({xq._P_TOKS})) / len({xq._P_TOKS}) >= 0.4
),
kept AS (
  SELECT * FROM q WHERE doc_id IN (SELECT min(doc_id) FROM q GROUP BY ckey)
),
sig AS (SELECT doc_id, {xq._P_SIG2} AS sig FROM kept),
bands AS ({xq._P_BANDS}),
buckets AS (SELECT band_id, band_key, count(*) AS c FROM bands
            GROUP BY 1, 2)
"""
_WORDS = "string_split(text, ' ')"

_CAP = dd.LSH_MAX_BUCKET

CHECKS = [
    ("rows customer/part/orders/lineitem",
     "SELECT [(SELECT count(*) FROM customer), (SELECT count(*) FROM part),"
     " (SELECT count(*) FROM orders), (SELECT count(*) FROM lineitem)]"),
    ("rows events/documents/embeddings",
     "SELECT [(SELECT count(*) FROM events),"
     " (SELECT count(*) FROM documents), (SELECT count(*) FROM embeddings)]"),
    ("o_orderdate range",
     "SELECT [min(o_orderdate)::DATE::VARCHAR,"
     " max(o_orderdate)::DATE::VARCHAR] FROM orders"),
    ("l_shipdate range",
     "SELECT [min(l_shipdate)::DATE::VARCHAR,"
     " max(l_shipdate)::DATE::VARCHAR] FROM lineitem"),
    ("o_totalprice range",
     "SELECT [min(o_totalprice), max(o_totalprice)] FROM orders"),
    ("l_extendedprice range",
     "SELECT [min(l_extendedprice), max(l_extendedprice)] FROM lineitem"),
    ("l_discount / l_tax max",
     "SELECT [max(l_discount), max(l_tax)] FROM lineitem"),
    ("p_retailprice range",
     "SELECT [min(p_retailprice), max(p_retailprice)] FROM part"),
    ("lineitems per order (avg, max)",
     "SELECT [round(avg(c), 3), max(c)] FROM"
     " (SELECT count(*) AS c FROM lineitem GROUP BY l_orderkey)"),
    ("distinct p_name/p_brand/p_type",
     "SELECT [count(DISTINCT p_name), count(DISTINCT p_brand),"
     " count(DISTINCT p_type)] FROM part"),
    ("events users / value mean",
     "SELECT [count(DISTINCT user_id), round(avg(value), 2)] FROM events"),
    ("events span (days)",
     "SELECT date_diff('day', min(ts), max(ts)) FROM events"),
    ("doc words (min, max, avg)",
     f"SELECT [min(len({_WORDS})), max(len({_WORDS})),"
     f" round(avg(len({_WORDS})), 2)] FROM documents"),
    ("vocabulary size",
     f"SELECT count(DISTINCT w) FROM (SELECT unnest({_WORDS}) AS w"
     " FROM documents)"),
    ("' dup' copies / exact-dup groups",
     "SELECT [(SELECT count(*) FROM documents WHERE text LIKE '% dup'),"
     " (SELECT count(*) FROM (SELECT text FROM documents GROUP BY 1"
     " HAVING count(*) > 1))]"),
    ("lang 'en' share",
     "SELECT round(avg((lang = 'en')::INT), 3) FROM documents"),
    ("dedup_minhash_lsh: max bucket / buckets > cap",
     _LSH + f"SELECT [max(c), count(*) FILTER (WHERE c > {_CAP})]"
     " FROM buckets"),
    ("dedup_minhash_lsh: candidate pairs",
     _LSH + "SELECT count(*) FROM (SELECT DISTINCT a.doc_id, b.doc_id"
     " FROM bands a JOIN bands b ON a.band_id = b.band_id"
     " AND a.band_key = b.band_key AND a.doc_id < b.doc_id)"),
    ("pipeline: docs after quality + exact dedup",
     _PIPELINE + "SELECT count(*) FROM kept"),
    ("pipeline: max bucket / buckets > cap",
     _PIPELINE + f"SELECT [max(c), count(*) FILTER (WHERE c > {_CAP})]"
     " FROM buckets"),
    ("pipeline: bucket pairs (all, capped)",
     _PIPELINE + "SELECT [sum(c * (c - 1) // 2),"
     f" sum(c * (c - 1) // 2) FILTER (WHERE c <= {_CAP})] FROM buckets"),
]


def main(argv) -> int:
    fixture_dir, sf = argv[0], float(argv[1])
    cons = [protocol.duckdb_views(d)
            for d in (fixture_dir, run.generate_tier(sf))]
    print(f"{'figure':46s} {'fixture':>28s} {'generated':>28s}")
    for label, sql in CHECKS:
        a, b = (str(con.execute(sql).fetchone()[0]) for con in cons)
        print(f"{label:46s} {a:>28s} {b:>28s}", flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
