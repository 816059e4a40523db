"""Shape profile of a directory of base tables, for fitting gen.py.

Prints, side by side for each directory given, the figures that set
the cost of the benchmark's layers: vocabulary, document lengths and
near-duplicate structure (what the MinHash / SimHash leaves find),
events per user and transcript text length (the state store and the
text kernels), lines per order (the TPC-H joins), and the row count
of every headline leaf's oracle.

    python3 perfbench/profile_inputs.py DIR [DIR ...]

Each DIR holds the ten tables as <name>.parquet (an sf test-table
directory, or one written by gen.sf_dir).
"""

from __future__ import annotations

import os
import sys

import duckdb

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

from bench import HEADLINE  # noqa: E402
from dstream_spark.fixtures.transcripts import TRANSCRIPTS_CTE  # noqa: E402
from dstream_spark.queries import ALL_TABLES, QUERIES  # noqa: E402

TOK = "len(string_split(text, ' '))"

STATS = [
    ("docs.n", "SELECT count(*) FROM documents"),
    ("docs.vocabulary", "SELECT count(DISTINCT w) FROM (SELECT unnest(string_split(text, ' ')) w FROM documents)"),
    ("docs.tokens_p10", f"SELECT quantile_disc({TOK}, 0.1) FROM documents"),
    ("docs.tokens_p50", f"SELECT quantile_disc({TOK}, 0.5) FROM documents"),
    ("docs.tokens_p90", f"SELECT quantile_disc({TOK}, 0.9) FROM documents"),
    ("docs.tokens_max", f"SELECT max({TOK}) FROM documents"),
    ("docs.n_chars_mean", "SELECT round(avg(n_chars), 1) FROM documents"),
    ("docs.top_word_share", "SELECT round(max(c) / sum(c), 4) FROM (SELECT count(*) c FROM "
     "(SELECT unnest(string_split(text, ' ')) w FROM documents) GROUP BY w)"),
    ("docs.lang_en_share", "SELECT round(avg((lang = 'en')::INT), 3) FROM documents"),
    ("docs.sources", "SELECT count(DISTINCT source) FROM documents"),
    ("docs.exact_dup_texts", "SELECT count(*) - count(DISTINCT text) FROM documents"),
    ("docs.dup_suffix", "SELECT count(*) FROM documents WHERE text LIKE '% dup'"),
    ("docs.prefix8_dups", "SELECT count(*) - count(DISTINCT string_split(text, ' ')[1:8]) FROM documents"),
    ("events.n", "SELECT count(*) FROM events"),
    ("events.users", "SELECT count(DISTINCT user_id) FROM events"),
    ("events.per_user_p50", "SELECT quantile_disc(c, 0.5) FROM (SELECT count(*) c FROM events GROUP BY user_id)"),
    ("events.per_user_max", "SELECT max(c) FROM (SELECT count(*) c FROM events GROUP BY user_id)"),
    ("events.top1pct_user_share", "SELECT round(sum(c) / (SELECT count(*) FROM events), 4) FROM "
     "(SELECT count(*) c FROM events GROUP BY user_id ORDER BY c DESC "
     "LIMIT (SELECT greatest(1, count(DISTINCT user_id) // 100) FROM events))"),
    ("events.error_share", "SELECT round(avg((event_type = 'error')::INT), 4) FROM events"),
    ("events.value_mean", "SELECT round(avg(value), 2) FROM events"),
    ("events.value_p99", "SELECT round(quantile_cont(value, 0.99), 2) FROM events"),
    ("events.props_distinct", "SELECT count(DISTINCT props) FROM events"),
    ("events.span_days", "SELECT round(epoch(max(ts) - min(ts)) / 86400, 2) FROM events"),
    ("transcripts.text_len_mean", "SELECT round(avg(length(text)), 2) FROM transcripts"),
    ("transcripts.text_len_max", "SELECT max(length(text)) FROM transcripts"),
    ("transcripts.tool_share", "SELECT round(avg((tool IS NOT NULL)::INT), 4) FROM transcripts"),
    ("orders.n", "SELECT count(*) FROM orders"),
    ("orders.per_customer_max", "SELECT max(c) FROM (SELECT count(*) c FROM orders GROUP BY o_custkey)"),
    ("lineitem.n", "SELECT count(*) FROM lineitem"),
    ("lineitem.orders_with_lines", "SELECT count(DISTINCT l_orderkey) FROM lineitem"),
    ("lineitem.per_order_p50", "SELECT quantile_disc(c, 0.5) FROM (SELECT count(*) c FROM lineitem GROUP BY l_orderkey)"),
    ("lineitem.per_order_max", "SELECT max(c) FROM (SELECT count(*) c FROM lineitem GROUP BY l_orderkey)"),
    ("lineitem.shipdate_after_order", "SELECT round(avg((l_shipdate > o_orderdate)::INT), 4) "
     "FROM lineitem JOIN orders ON l_orderkey = o_orderkey"),
    ("embeddings.n", "SELECT count(*) FROM embeddings"),
    ("embeddings.dims", "SELECT max(len(embedding)) FROM embeddings"),
    ("embeddings.norm_mean", "SELECT round(avg(sqrt(list_sum(list_transform(embedding, x -> x * x)))), 4) FROM embeddings"),
    ("embeddings.labels", "SELECT count(DISTINCT label) FROM embeddings"),
]


def profile(d: str) -> dict[str, float]:
    con = duckdb.connect()
    try:
        for t in ALL_TABLES:
            con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{os.path.join(d, t)}.parquet'")
        con.sql(f"CREATE VIEW transcripts AS WITH {TRANSCRIPTS_CTE} SELECT * FROM transcripts")
        out = {name: con.sql(sql).fetchone()[0] for name, sql in STATS}
        for name in HEADLINE:
            out[f"rows.{name}"] = con.sql(f"SELECT count(*) FROM ({QUERIES[name].oracle})").fetchone()[0]
        return out
    finally:
        con.close()


def main() -> None:
    dirs = sys.argv[1:]
    if not dirs:
        sys.exit(__doc__)
    profs = [profile(d) for d in dirs]
    print("| figure | " + " | ".join(os.path.basename(d.rstrip("/")) for d in dirs) + " |")
    print("|---" * (len(dirs) + 1) + "|")
    for k in profs[0]:
        print(f"| `{k}` | " + " | ".join(f"{p[k]:,}" if isinstance(p[k], int) else f"{p[k]}" for p in profs) + " |")


if __name__ == "__main__":
    main()
