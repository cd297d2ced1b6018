"""The benchmark's workloads: one closed-loop client driving the
engine's public entry points, one op at a time.

* Query workloads run ``contract.QUERIES[name](spark, dir)`` and
  materialize every column with the ``noop`` sink. An op is one query,
  from build through the last row written.
* ``recall_ingest`` runs the reference's daily Kafka -> Spark -> JDBC
  dataflow over ``sources.kafka_sim``. An op is one day, from the day's
  raw records released to the sink committed.

Each workload's unit of work is fixed: one pass over its query list,
or all of its ingest days. Outputs are checked in an untimed pass
afterwards: ``check_queries`` against the DuckDB oracles,
``expected_sink``/``check_sink`` for the ingest sink.
"""

from __future__ import annotations

import os
import random
import sys
import time
from collections import Counter

import duckdb

import datagen

# Relational queries where fixed per-query costs dominate at sf0.1:
# catalog schema inference, job launch and planning.
OLAP = [
    "q_agg_group", "q_anti_join", "q_inner_join", "q_window_rank",
    "q_interval_join_full", "q_tpcds_q51_shape",
]
# Text and LLM-pipeline queries dominated by eager driver-side build
# jobs (q_kcenter) and one Arrow pandas UDF (q_pandas_udf).
LLM = ["q_kcenter", "q_tfidf", "q_bm25", "q_text_stats", "q_pandas_udf"]
# ``unit_s`` is the nominal length of one unit of work on a 4-core host:
# a run measures ceil(--seconds / unit_s) units, a count fixed by its
# arguments so that every run of a workload does the same work. The
# traced run's per-query breakdown keeps the OLAP and LLM groups apart.
WORKLOADS = {
    "olap_llm": {"kind": "query", "queries": OLAP + LLM, "unit_s": 5.0},
    "recall_ingest": {"kind": "ingest", "unit_s": 10.0},
}

# Ingest sizing: days per unit and raw records per day.
INGEST_DAYS = 3
INGEST_PER_DAY = 400


# ---- query workloads -----------------------------------------------------


def query_order(names: list[str], seed: int, unit: int) -> list[str]:
    order = list(names)
    random.Random(seed * 1000 + unit).shuffle(order)
    return order


def run_query_op(spark, queries, name: str, data_dir: str, op_id: int, tracer):
    """One op: build the query's DataFrame, then write every row to the
    ``noop`` sink; returns the DataFrame. Traced, the op's jobs carry
    the job group ``op-<id>``. The write plans the query itself, so the
    exec span includes Catalyst planning; ``probe_queries`` times that
    planning apart."""
    sc = spark.sparkContext
    if tracer.enabled:
        sc.setJobGroup(f"op-{op_id}", name)
    try:
        with tracer.span("build", op_id):
            df = queries[name](spark, data_dir)
        with tracer.span("exec", op_id):
            df.write.format("noop").mode("overwrite").save()
        return df
    finally:
        if tracer.enabled:
            sc.setLocalProperty("spark.jobGroup.id", None)


def probe_queries(spark, queries, noop_s: dict[str, float],
                  data_dir: str) -> tuple[dict[str, float], list[dict]]:
    """Probes run outside the timed ops, one fresh build per query.

    * Planning: the time to force the build's ``executedPlan``
      (optimization and physical planning), by query.
    * Count vs noop: the queries whose ``.count()`` time (build plus
      count) differs by >20% from their ``noop`` op time. There
      ``.count()`` lets Catalyst prune columns, so a gain measured with
      it may be a pruning artifact.
    """
    plan_s, over = {}, []
    for name, noop in noop_s.items():
        t0 = time.perf_counter()
        df = queries[name](spark, data_dir)
        t1 = time.perf_counter()
        df._jdf.queryExecution().executedPlan()
        t2 = time.perf_counter()
        df.count()  # a new query execution over the same logical plan
        count = (t1 - t0) + (time.perf_counter() - t2)
        plan_s[name] = t2 - t1
        if abs(count - noop) > 0.2 * noop:
            over.append({"query": name, "noop_s": round(noop, 4), "count_s": round(count, 4)})
    return plan_s, over


def _verify_local():
    """The repository's oracle-differential harness,
    ``tools/verify_local.py``, imported from the checkout (lazily: it
    imports the engine)."""
    tools = os.path.join(os.getcwd(), "tools")
    if tools not in sys.path:
        sys.path.insert(0, tools)
    import verify_local

    return verify_local


def compare(scols, srows, dcols, drows) -> str | None:
    """None when the results agree by row count, schema and values
    (the rule of ``tools/verify_local.py``); otherwise a one-line
    reason."""
    if len(srows) != len(drows):
        return f"rowcount spark={len(srows)} oracle={len(drows)}"
    if sorted(scols) != sorted(dcols):
        return f"columns spark={sorted(scols)} oracle={sorted(dcols)}"
    rowset = _verify_local().rowset
    if rowset(scols, srows) != rowset(dcols, drows):
        return "values differ"
    return None


def check_queries(frames: dict, oracles, data_dir: str) -> dict[str, str]:
    """Untimed pass: collect each query's DataFrame (the very object its
    last timed op wrote to ``noop``) and compare it with the query's
    DuckDB oracle over the same parquet. Returns ``{query: reason}``
    for every mismatch."""
    con = duckdb.connect()
    for t in datagen.TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data_dir}/{t}.parquet'")
    bad = {}
    for name, sdf in frames.items():
        try:
            scols, srows = sdf.columns, [tuple(r) for r in sdf.collect()]
        except Exception as e:  # a failing query is a result, not a crash
            bad[name] = f"spark error: {type(e).__name__}: {str(e)[:200]}"
            continue
        res = con.execute(oracles[name])
        reason = compare(scols, srows, [d[0] for d in res.description], res.fetchall())
        if reason:
            bad[name] = reason
    con.close()
    return bad


# ---- recall ingest -------------------------------------------------------

DERBY_DRIVER = "org.apache.derby.jdbc.EmbeddedDriver"
SINK_TABLE = "rappel_conso"
RAW_COLUMNS = datagen.RAW_COLUMNS


def write_ingest_inputs(raw_dir: str, seed: int, n_days: int, per_day: int) -> list[int]:
    """Write each day's raw JSON as ``day-NNN.json``; return record
    counts per day."""
    os.makedirs(raw_dir, exist_ok=True)
    counts = []
    for day, records in datagen.recall_days(seed, n_days, per_day):
        datagen.write_json_lines(os.path.join(raw_dir, f"day-{day:03d}.json"), records)
        counts.append(len(records))
    return counts


class IngestUnit:
    """One unit of ``recall_ingest``: a fresh topic log, checkpoint and
    Derby sink, then one op per day."""

    def __init__(self, spark, work_dir: str, unit: int, tracer, listener=None):
        from pyspark.sql import types as T

        from pipeline_dataengineer_spark.pipelines import recall_ingest
        from pipeline_dataengineer_spark.sinks import writers
        from pipeline_dataengineer_spark.sources import kafka_sim

        self.ri, self.writers, self.kafka_sim = recall_ingest, writers, kafka_sim
        self.spark = spark
        self.tracer = tracer
        self.listener = listener
        self.url = f"jdbc:derby:memory:perfbench_{os.getpid()}_{unit};create=true"
        self.log_dir = os.path.join(work_dir, f"topic-{unit}")
        self.ckpt = os.path.join(work_dir, f"ckpt-{unit}")
        self.raw_schema = T.StructType([T.StructField(c, T.StringType()) for c in RAW_COLUMNS])
        empty = spark.createDataFrame([], self.raw_schema)
        writers.write_jdbc_append(recall_ingest.transform_recall_records(empty), self.url,
                                  SINK_TABLE, driver=DERBY_DRIVER)
        self.rows_total = 0
        self.layer = Counter()

    def read_sink(self):
        # Spark maps strings to CLOB on Derby, which cannot compare a
        # CLOB with a pushed-down literal: filter Spark-side.
        return (self.spark.read.format("jdbc").option("url", self.url)
                .option("dbtable", SINK_TABLE).option("driver", DERBY_DRIVER)
                .option("pushDownPredicate", "false").load())

    def run_day(self, raw_path: str, op_id: int) -> str:
        """One op: produce the day's records, then drain the topic once
        into the sink. Returns the drain's streaming run id."""
        ri, writers, spark, tracer = self.ri, self.writers, self.spark, self.tracer
        with tracer.span("produce", op_id):
            raw = spark.read.schema(self.raw_schema).json(raw_path)
            payload = writers.kafka_json_payload(ri.transform_recall_records(raw))
            self.kafka_sim.produce(self.log_dir, payload)
        with tracer.span("drain", op_id) as drain:

            def sink(batch_df, epoch_id):
                with tracer.span("ingest_batch", op_id, parent=drain):
                    ri.ingest_batch(batch_df, self.read_sink().select("reference_fiche"),
                                    writer=lambda d: writers.write_jdbc_append(
                                        d, self.url, SINK_TABLE, driver=DERBY_DRIVER))

            stream = spark.readStream.format("kafka_log").option("path", self.log_dir).load()
            q = (ri.parse_json_records(stream, value_col="value").writeStream
                 .foreachBatch(sink).option("checkpointLocation", self.ckpt)
                 .trigger(availableNow=True).start())
            q.awaitTermination()
            if q.exception() is not None:
                raise RuntimeError(str(q.exception()))
        return str(q.runId)

    def account(self, n_records: int, run_id: str) -> None:
        """Traced runs, after each day's op: count what the day produced
        and wrote (the sink count is an extra job, kept out of the op)."""
        self.layer["produce.records"] += n_records
        if self.listener is not None:
            self.listener.wait_terminated(run_id)
        total = self.read_sink().count()
        self.layer["sink.rows_written"] += total - self.rows_total
        self.rows_total = total


_NORMALIZE_SQL = "nullif(strip_accents({x}), '')"


def expected_sink(raw_dir: str) -> dict[str, dict]:
    """DuckDB's reading of what the sink must hold after every day:
    per key, the last-wins record (by ``date_de_publication``) of the
    first day the key appeared, transformed like the reference's row
    transforms. Returns ``{key: {column: value}}`` plus the key's first
    day under ``"__day"``."""
    from pipeline_dataengineer_spark.pipelines.recall_ingest import (
        COLUMNS_TO_KEEP, COLUMNS_TO_NORMALIZE)

    cols = ", ".join(f"'{c}': 'VARCHAR'" for c in RAW_COLUMNS)
    # the reference's merged columns, restated here for the oracle
    merge = {
        "risques_pour_le_consommateur": ("risques_encourus_par_le_consommateur", "description_complementaire_du_risque"),
        "recommandations_sante": ("preconisations_sanitaires", "recommandations_sante"),
        "informations_complementaires": ("informations_complementaires", "informations_complementaires_publiques"),
    }
    sel = list(COLUMNS_TO_KEEP)
    sel += [f"{_NORMALIZE_SQL.format(x=c)} AS {c}" for c in COLUMNS_TO_NORMALIZE]
    for out, (a, b) in merge.items():
        m = (f"CASE WHEN nullif({a}, '') IS NULL AND nullif({b}, '') IS NULL THEN NULL "
             f"ELSE concat_ws(chr(10), nullif({a}, ''), nullif({b}, '')) END")
        sel.append(f"{_NORMALIZE_SQL.format(x=m)} AS {out}")
    rng_col = "date_debut_fin_de_commercialisation"
    ms = f"regexp_extract_all({rng_col}, '(\\d{{2}}/\\d{{2}}/\\d{{4}})')"
    low = f"lower({rng_col})"
    sel.append(f"CASE WHEN len({ms}) = 2 THEN {ms}[1] WHEN len({ms}) = 1 AND {low} LIKE '%depuis le%' "
               f"THEN {ms}[1] END AS date_debut_commercialisation")
    sel.append(f"CASE WHEN len({ms}) = 2 THEN {ms}[2] WHEN len({ms}) = 1 AND {low} LIKE '%jusqu%' "
               f"THEN {ms}[1] END AS date_fin_commercialisation")
    sql = f"""
    WITH raw AS (
      SELECT *, CAST(regexp_extract(filename, 'day-(\\d+)', 1) AS INT) AS __day
      FROM read_json('{raw_dir}/day-*.json', columns={{{cols}}}, format='newline_delimited',
                     filename=true)),
    first AS (SELECT reference_fiche AS k, min(__day) AS d FROM raw GROUP BY 1),
    latest AS (
      SELECT raw.* FROM raw JOIN first ON raw.reference_fiche = first.k AND raw.__day = first.d
      QUALIFY row_number() OVER (PARTITION BY reference_fiche ORDER BY date_de_publication DESC) = 1)
    SELECT __day, {", ".join(sel)} FROM latest
    """
    con = duckdb.connect()
    res = con.execute(sql)
    names = [d[0] for d in res.description]
    out = {}
    for row in res.fetchall():
        rec = dict(zip(names, row))
        out[rec["reference_fiche"]] = rec
    con.close()
    return out


def check_sink(sink_rows: list[dict], expected: dict[str, dict]) -> tuple[set[int], str | None]:
    """Compare the sink with the expectation. Returns the days whose
    rows are wrong (a key's first day; the last day for a key no day
    delivered) and a one-line reason."""
    bad_days: set[int] = set()
    last_day = max((exp["__day"] for exp in expected.values()), default=0)
    got = {}
    for r in sink_rows:
        k = r["reference_fiche"]
        if k in got or k not in expected:
            bad_days.add(expected.get(k, {}).get("__day", last_day))
        got[k] = r
    for k, exp in expected.items():
        row = got.get(k)
        if row is None or any(row.get(c) != v for c, v in exp.items() if c != "__day"):
            bad_days.add(exp["__day"])
    reason = None
    if bad_days:
        missing = len(set(expected) - set(got))
        reason = (f"{len(bad_days)} day(s) wrong: sink {len(got)} keys, expected "
                  f"{len(expected)}, {missing} missing")
    return bad_days, reason
