"""Round-3 fourth wave — SURVEY.md §2.17 (#172–#174).

Engine-infrastructure surfaces that close the loop between the
streaming state machinery and the batch SQL surface:

- #172 SQL scripting (Spark 4 ``BEGIN … END`` with DECLARE/WHILE):
  iterative control flow *inside* the SQL surface — each statement is
  still a full Catalyst-planned query, so a convergence loop runs N
  small distributed jobs, never a driver-side collect-and-loop.
- #173 state-store reader (``spark.read.format("statestore")``): the
  streaming checkpoint is not a black box — per-key aggregation state
  is queryable as a batch DataFrame for audits/debugging/migration.
  Oracle: after an availableNow drain of the full fixture, the state
  rows ARE the batch aggregate (exactly-once made visible).
- #174 Gopher-style corpus quality gates: the multi-rule document
  filter every LLM training pipeline runs (word-count bounds, mean
  word length, stopword floor, single-token-domination ceiling),
  expressed as one explode → two-level aggregation — no Python in the
  hot path, shuffle keys are (doc_id) then (source), both map-side
  combinable.

Reference parity note: /root/reference declares only "Stream
processing framework with ECS" (README.md:2) — state inspection
(#173) is the ECS "query the world state" surface re-expressed on
Spark's state store; #172/#174 extend the SURVEY §2 contract.
"""

from __future__ import annotations

import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from zmaxion_spark.catalog import load_table
from zmaxion_spark.queries.helpers import DEC
from zmaxion_spark.queries.registry import query


def _view(spark: SparkSession, sf_dir: str, name: str) -> None:
    load_table(spark, sf_dir, name).createOrReplaceTempView(name)


# ---------------------------------------------------------------------------
# #172 SQL scripting (BEGIN ... END control flow)
# ---------------------------------------------------------------------------


@query(
    "q_sql_scripting",
    oracle="""
        WITH RECURSIVE walk(t) AS (
            SELECT CAST(1000.0 AS DOUBLE)
            UNION ALL
            SELECT t * 2 FROM walk
            WHERE (SELECT COUNT(*) FROM orders WHERE o_totalprice > t) >= 100
        ),
        fin AS (SELECT MAX(t) AS t FROM walk)
        SELECT (SELECT t FROM fin) AS threshold,
               (SELECT COUNT(*) FROM orders
                 WHERE o_totalprice > (SELECT t FROM fin)) AS n_above,
               (SELECT CAST(SUM(CAST(o_totalprice AS DECIMAL(38,6))) AS DOUBLE)
                  FROM orders
                 WHERE o_totalprice > (SELECT t FROM fin)) AS sum_above
    """,
    operators=(172,),
    doc="SQL scripting (#172, Spark 4 BEGIN/DECLARE/WHILE): doubling "
    "threshold search — raise t until fewer than 100 orders exceed it, "
    "then report the converged threshold and its tail stats. Each loop "
    "iteration is one small Catalyst-planned COUNT job (distributed, "
    "AQE-coalesced), NOT a driver-side collect-and-loop; the loop "
    "variable is the only driver state. The oracle states the same "
    "fixpoint as a recursive CTE, so convergence itself is graded. "
    "Thresholds are 1000*2^k — exact in binary, so the DOUBLE compare "
    "is engine-stable.",
)
def q_sql_scripting(spark: SparkSession, sf_dir: str) -> DataFrame:
    _view(spark, sf_dir, "orders")
    return spark.sql(
        f"""
        BEGIN
            DECLARE t DOUBLE DEFAULT 1000.0;
            WHILE (SELECT COUNT(*) FROM orders WHERE o_totalprice > t) >= 100 DO
                SET t = t * 2;
            END WHILE;
            SELECT t AS threshold,
                   (SELECT COUNT(*) FROM orders WHERE o_totalprice > t) AS n_above,
                   (SELECT CAST(SUM(CAST(o_totalprice AS {DEC})) AS DOUBLE)
                      FROM orders WHERE o_totalprice > t) AS sum_above;
        END
        """
    )


# ---------------------------------------------------------------------------
# #173 state-store reader (streaming checkpoint as a batch table)
# ---------------------------------------------------------------------------


@query(
    "q_state_reader",
    oracle="""
        SELECT event_type,
               COUNT(*) AS n,
               CAST(SUM(CAST(value AS DECIMAL(38,6))) AS DOUBLE) AS total_value
        FROM events
        GROUP BY event_type
    """,
    operators=(57, 173),
    doc="State-store reader (#173, Spark 4 statestore data source): "
    "drain the event stream through a checkpointed streaming "
    "aggregation (its sink rows are discarded — state is the product), "
    "then read the checkpoint's per-key aggregation buffers back as a batch "
    "DataFrame. After a full availableNow drain the state rows must "
    "equal the batch aggregate — exactly-once made auditable. This is "
    "the ECS 'query the live world state' surface: state is data, not "
    "a black box. Scale: the reader shards by state-store partition "
    "(one task per shuffle partition of the original query), so "
    "inspection parallelism equals the stream's state parallelism.",
)
def q_state_reader(spark: SparkSession, sf_dir: str) -> DataFrame:
    from zmaxion_spark.streaming.pipeline import run_available_now
    from zmaxion_spark.streaming.sources import stream_events

    ckpt = tempfile.mkdtemp(prefix="zmx-ckpt-statereader-")
    agg = (
        stream_events(spark, sf_dir)
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("value").cast(DEC)).alias("total_value"),
        )
    )
    run_available_now(agg, "state_reader", mode="update", checkpoint=ckpt)
    state = spark.read.format("statestore").load(ckpt)
    return state.select(
        F.col("key.event_type").alias("event_type"),
        F.col("value.count").alias("n"),
        F.col("value.sum").cast("double").alias("total_value"),
    )


# ---------------------------------------------------------------------------
# #174 Gopher-style corpus quality gates
# ---------------------------------------------------------------------------

_STOPWORDS = ("the", "a", "of", "to", "and")

_GATE_SQL_RULES = """
    SELECT source,
           COUNT(*) AS n_docs,
           CAST(SUM(CASE WHEN ok_words AND ok_wl AND ok_stop AND ok_rep
                    THEN 1 ELSE 0 END) AS BIGINT) AS n_pass,
           CAST(SUM(CASE WHEN ok_words THEN 0 ELSE 1 END) AS BIGINT) AS fail_words,
           CAST(SUM(CASE WHEN ok_wl THEN 0 ELSE 1 END) AS BIGINT) AS fail_word_len,
           CAST(SUM(CASE WHEN ok_stop THEN 0 ELSE 1 END) AS BIGINT) AS fail_stopword,
           CAST(SUM(CASE WHEN ok_rep THEN 0 ELSE 1 END) AS BIGINT) AS fail_repetition
    FROM gated GROUP BY source
"""


@query(
    "q_gopher_quality",
    oracle=f"""
        WITH tok AS (
            SELECT doc_id, source, UNNEST(STRING_SPLIT(text, ' ')) AS token
            FROM documents
        ),
        tf AS (
            SELECT doc_id, source, token, COUNT(*) AS c
            FROM tok GROUP BY doc_id, source, token
        ),
        doc AS (
            SELECT doc_id, source,
                   SUM(c) AS n_words,
                   SUM(LEN(token) * c) AS n_tok_chars,
                   SUM(CASE WHEN token IN {_STOPWORDS} THEN c ELSE 0 END)
                       AS n_stop,
                   MAX(c) AS top_tok
            FROM tf GROUP BY doc_id, source
        ),
        gated AS (
            SELECT source,
                   n_words BETWEEN 50 AND 100000 AS ok_words,
                   CAST(n_tok_chars AS DOUBLE) / n_words BETWEEN 3.0 AND 10.0
                       AS ok_wl,
                   CAST(n_stop AS DOUBLE) / n_words >= 0.01 AS ok_stop,
                   CAST(top_tok AS DOUBLE) / n_words <= 0.2 AS ok_rep
            FROM doc
        )
        {_GATE_SQL_RULES}
    """,
    operators=(174,),
    doc="Gopher-style quality gates (#174): the standard multi-rule "
    "document filter for LLM training corpora — word-count bounds "
    "[50, 100k], mean word length [3, 10], stopword floor (>=1% of "
    "tokens in a tiny function-word list), and single-token domination "
    "ceiling (top token <= 20% of the doc). One explode + two "
    "aggregations: (doc_id, token) term frequencies, then per-doc "
    "moments, then per-source pass/fail rates. All JVM-side; both "
    "shuffles are map-side combinable; the token explosion never "
    "rejoins the document text. Per-rule failure counts (not just a "
    "pass rate) so a corpus shift is attributable to the rule that "
    "moved.",
)
def q_gopher_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    tf = (
        docs.select(
            "doc_id", "source", F.explode(F.split("text", " ")).alias("token")
        )
        .groupBy("doc_id", "source", "token")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    doc = tf.groupBy("doc_id", "source").agg(
        F.sum("c").alias("n_words"),
        F.sum(F.length("token") * F.col("c")).alias("n_tok_chars"),
        F.sum(
            F.when(F.col("token").isin(*_STOPWORDS), F.col("c")).otherwise(0)
        ).alias("n_stop"),
        F.max("c").alias("top_tok"),
    )
    gated = doc.select(
        "source",
        F.col("n_words").between(50, 100000).alias("ok_words"),
        (F.col("n_tok_chars").cast("double") / F.col("n_words"))
        .between(3.0, 10.0)
        .alias("ok_wl"),
        ((F.col("n_stop").cast("double") / F.col("n_words")) >= 0.01).alias(
            "ok_stop"
        ),
        ((F.col("top_tok").cast("double") / F.col("n_words")) <= 0.2).alias(
            "ok_rep"
        ),
    )
    gated.createOrReplaceTempView("gated")
    return spark.sql(_GATE_SQL_RULES)
