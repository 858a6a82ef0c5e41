"""The benchmark's workloads: fixed step lists, each step with its oracle.

A step is one call into the program — a registered ``queries()`` key or a
public function of an operator, streaming or lake module — followed by one
``collect()`` of the DataFrame it returns. Every step carries the DuckDB
SQL whose result it must equal over the same generated inputs:

- registered keys use ``oracle_sql()[key]``;
- direct member calls use the member's own oracle from the family dicts
  in ``oracles.py``, or the suite oracle filtered to the member's
  ``variant`` where the member only rides a suite key (its rows are then
  reshaped into the suite's tagged schema before hashing);
- the lake maintenance calls have no oracle in the program, so the
  expected lake contents are written here as DuckDB SQL over ``events``.

Steps only import the program lazily, so this module (and the workload
list) loads without the program present.
"""

from __future__ import annotations

import os
from collections.abc import Callable
from dataclasses import dataclass, field

#: The lake maintenance edits: rows whose key satisfies the predicate are
#: re-valued (update) or copied under a fresh key (insert).
LAKE_UPDATE_MOD = 5
LAKE_INSERT_MOD = 97
LAKE_INSERT_OFFSET = 10_000_000


@dataclass
class Ctx:
    """Per-pass call context: the session, the generated input directory,
    a pass-private work directory and the workload's prepared fixtures."""

    spark: object
    sf_dir: str
    work_dir: str
    fixture_dir: str | None = None


@dataclass(frozen=True)
class Step:
    name: str
    #: dotted path of the called function (span name / layer attribution)
    target: str
    call: Callable[[Ctx], object]
    #: DuckDB SQL producing the expected result over the input views
    oracle: Callable[[], str]
    #: (cols, collected rows) -> (cols, rows) reshaping before hashing
    shape: Callable[[list, list], tuple[list, list]] | None = None
    #: the step rewrites lake files (counted in sources.write_s)
    writes: bool = False
    #: SQL conf scoped to the step's call and collect
    conf: dict = field(default_factory=dict)


@dataclass(frozen=True)
class Workload:
    name: str
    steps: tuple[Step, ...]
    #: tables whose rows count as the workload's input (rows_per_cpu_s)
    tables: tuple[str, ...]
    #: nominal wall time of one warm pass (4-CPU host); with --seconds it
    #: fixes the number of warm passes of a run
    pass_s: float
    #: untimed preparation of derived inputs (stream replays) into a
    #: directory: prepare(sf_dir, fixture_dir)
    prepare: Callable[[str, str], None] | None = None


# --------------------------------------------------------------------------
# step builders
# --------------------------------------------------------------------------

def key_step(key: str) -> Step:
    def call(ctx: Ctx):
        import __spark_entry__ as entry

        return entry.queries()[key](ctx.spark, ctx.sf_dir)

    def oracle() -> str:
        import __spark_entry__ as entry

        return entry.oracle_sql()[key]

    return Step(key, f"__spark_entry__.queries.{key}", call, oracle)


def member_step(module: str, fn: str, family: str) -> Step:
    """A public operator function called directly; oracle = its entry in
    the ``oracles.py`` family dict ``family``."""

    def call(ctx: Ctx):
        import importlib

        mod = importlib.import_module(f"uw_hadoop_aglorithms_spark.{module}")
        return getattr(mod, fn)(ctx.spark, ctx.sf_dir)

    def oracle() -> str:
        from uw_hadoop_aglorithms_spark import oracles

        return getattr(oracles, family)[fn]

    return Step(fn, f"uw_hadoop_aglorithms_spark.{module}.{fn}", call, oracle)


def suite_variant_oracle(suite: str, variant: str) -> Callable[[], str]:
    def oracle() -> str:
        from uw_hadoop_aglorithms_spark.operators.suites import SUITE_ORACLES

        return f"SELECT * FROM ({SUITE_ORACLES[suite]}) WHERE variant = '{variant}'"

    return oracle


# --------------------------------------------------------------------------
# streaming + lake: the write side
# --------------------------------------------------------------------------

SBE_COLS = ["variant", "window_start", "doc_id", "digest", "n"]
#: The caller scopes the stateful stream's shuffle width, as
#: ``suites.stream_batch_equiv`` does: state is key-sized, not input-sized,
#: so one partition per micro-batch is the program's own setting.
STREAM_CONF = {"spark.sql.shuffle.partitions": os.environ.get("SPARK_GRAFT_STREAM_PARTS", "1")}


def prepare_stream(sf_dir: str, fixture_dir: str) -> None:
    """The document replay the stream reads, written by the generator
    (untimed: it is the stream's arriving input, not its work), one file
    per micro-batch as the program's own replay layout has it."""
    import gen
    from uw_hadoop_aglorithms_spark.streaming.runner import DOC_REPLAY_FILES

    gen.write_doc_replay(sf_dir, os.path.join(fixture_dir, "docs"), DOC_REPLAY_FILES)


def _stream_exact_dedup(ctx: Ctx):
    from uw_hadoop_aglorithms_spark.streaming import runner

    return runner.stream_exact_dedup(
        ctx.spark, os.path.join(ctx.fixture_dir, "docs"), os.path.join(ctx.work_dir, "ckpt_dedup"),
        "perfbench_dedup",
    ).select("doc_id", "digest")


def _shape_dedup(cols, rows):
    return SBE_COLS, [("dedup", None, int(r[0]), r[1], None) for r in rows]


def _lake_path(ctx: Ctx) -> str:
    return os.path.join(ctx.work_dir, "lake")


def _day_summary(ctx: Ctx):
    """Per-day integer-exact digest of the lake (row count, key sum,
    distinct users, value sum on a 1e-3 floor grid)."""
    from pyspark.sql import functions as F

    from uw_hadoop_aglorithms_spark.sources import lake

    return lake.read_lake(ctx.spark, _lake_path(ctx)).groupBy("dt").agg(
        F.count("*").alias("n"),
        F.sum("event_id").alias("key_sum"),
        F.countDistinct("user_id").alias("users"),
        F.sum(F.floor(F.col("value") * 1000)).alias("value_sum"),
    )


def _write_date_partitioned(ctx: Ctx):
    from uw_hadoop_aglorithms_spark.sources import lake
    from uw_hadoop_aglorithms_spark.sources.catalog import Catalog

    lake.write_date_partitioned(Catalog(ctx.spark, ctx.sf_dir).events, _lake_path(ctx))
    return _day_summary(ctx)


def _merge_into_lake(ctx: Ctx):
    from pyspark.sql import functions as F

    from uw_hadoop_aglorithms_spark.sources import lake
    from uw_hadoop_aglorithms_spark.sources.catalog import Catalog

    ev = Catalog(ctx.spark, ctx.sf_dir).events
    upd = ev.where(F.col("event_id") % LAKE_UPDATE_MOD == 0).withColumn(
        "value", F.col("value") * 2
    )
    ins = ev.where(F.col("event_id") % LAKE_INSERT_MOD == 0).withColumn(
        "event_id", F.col("event_id") + LAKE_INSERT_OFFSET
    )
    lake.merge_into_lake(ctx.spark, _lake_path(ctx), upd.unionByName(ins))
    return _day_summary(ctx)


def _read_lake(ctx: Ctx):
    from uw_hadoop_aglorithms_spark.sources import lake

    return lake.read_lake(ctx.spark, _lake_path(ctx))


_LAKE_BASE = "SELECT * FROM events"
_LAKE_MERGED = f"""
    SELECT event_id, ts, user_id, event_type,
           CASE WHEN event_id % {LAKE_UPDATE_MOD} = 0 THEN value * 2 ELSE value END AS value,
           props
    FROM events
    UNION ALL
    SELECT event_id + {LAKE_INSERT_OFFSET}, ts, user_id, event_type, value, props
    FROM events WHERE event_id % {LAKE_INSERT_MOD} = 0
"""


def _day_summary_sql(rows_sql: str) -> str:
    return f"""
        SELECT CAST(ts AS DATE) AS dt, count(*) AS n,
               CAST(sum(event_id) AS BIGINT) AS key_sum,
               count(DISTINCT user_id) AS users,
               CAST(sum(CAST(floor(value * 1000) AS BIGINT)) AS BIGINT) AS value_sum
        FROM ({rows_sql}) GROUP BY 1
    """


def _sql(text: str) -> Callable[[], str]:
    return lambda: text


# --------------------------------------------------------------------------
# the workloads
# --------------------------------------------------------------------------

WORKLOADS: dict[str, Workload] = {
    w.name: w
    for w in (
        Workload(
            "tpch_star",
            tuple(key_step(k) for k in (
                "q1", "q3", "q5", "q7", "rollup_revenue", "semi_anti_join",
                "asof_last_order",
            )),
            ("lineitem", "orders", "customer", "supplier", "part", "nation",
             "region", "events"),
            3.5,
        ),
        Workload(
            "curation_ingest",
            (
                member_step("operators.dedup", "exact_dedup", "DEDUP_ORACLES"),
                member_step("operators.dedup", "minhash_lsh_dedup", "DEDUP_ORACLES"),
                member_step("operators.similarity", "ann_ivf_topk", "SIMILARITY_ORACLES"),
                Step("stream_exact_dedup", "uw_hadoop_aglorithms_spark.streaming.runner.stream_exact_dedup",
                     _stream_exact_dedup, suite_variant_oracle("stream_batch_equiv", "dedup"),
                     _shape_dedup, conf=STREAM_CONF),
                Step("write_date_partitioned", "uw_hadoop_aglorithms_spark.sources.lake.write_date_partitioned",
                     _write_date_partitioned, _sql(_day_summary_sql(_LAKE_BASE)), writes=True),
                Step("merge_into_lake", "uw_hadoop_aglorithms_spark.sources.lake.merge_into_lake",
                     _merge_into_lake, _sql(_day_summary_sql(_LAKE_MERGED)), writes=True),
                Step("read_lake", "uw_hadoop_aglorithms_spark.sources.lake.read_lake",
                     _read_lake, _sql(f"SELECT *, CAST(ts AS DATE) AS dt FROM ({_LAKE_MERGED})")),
            ),
            ("documents", "embeddings", "events"),
            13.0,
            prepare_stream,
        ),
    )
}
