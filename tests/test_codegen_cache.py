"""Repeated passes of one job reuse their compiled code.

The engine's jobs generate a few hundred Janino classes a pass. With
Spark's default codegen cache (100 entries) an LRU cycle over a larger
working set evicts every class before the next pass asks for it again,
so every pass recompiles all of them; build_spark sizes the cache above
the working set (session.CODEGEN_CACHE_MAX_ENTRIES)."""

from pyspark.sql import functions as F

from voter_gateway_spark.audit import merge_audit
from voter_gateway_spark.jobs import DedupJob, ImportJob
from voter_gateway_spark.plans import DedupPlan, MatchPlan, MergePlan, WorkingFrame
from voter_gateway_spark.session import CODEGEN_CACHE_MAX_ENTRIES, codegen_stats

SCHEMA = (
    "voter_id bigint, state_file_id string, county_file_id string, first_name string, "
    "last_name string, birth_date string, phone string, registered_at string"
)


def _voters(spark):
    source = spark.createDataFrame(
        [
            (None, "S1", "C1", " ann ", "lee ", "1980-01-02", "555-0001", "2014-03-01"),
            (None, None, "C2", "bo", "park", "1975-05-06", "555-0002", "bad-date"),
            (None, None, None, "cy", "nguyen", "1990-09-09", "555-0003", "2016-02-02"),
            (None, "S9", "C9", "dee", "smithe", "1985-12-12", "555-0009", "2018-08-08"),
        ],
        SCHEMA,
    )
    target = spark.createDataFrame(
        [
            (1, "S1", "CX", "ann", "lee", "1980-01-02", "555-0001", "2010-01-01"),
            (2, "SX", "C2", "bo", "park", "1975-05-06", "555-1000", "2011-01-01"),
            (3, None, None, "cy", "nguyen", "1990-09-09", "555-0003", "2012-01-01"),
            (4, None, None, "dee", "smith", "1985-12-12", None, "2013-01-01"),
            (5, None, None, "ann", "lee", "1980-01-02", None, "2015-01-01"),
        ],
        SCHEMA,
    ).withColumn("birth_date", F.to_date("birth_date"))
    return source, target


def _jobs(spark):
    source, target = _voters(spark)

    class Import(ImportJob):
        def job(self, gw):
            wf = WorkingFrame(source)
            for c in ("state_file_id", "county_file_id", "phone"):
                wf.map_column(c, type="TEXT")
            wf.map_column("first_name", as_expr="trim($S)")
            wf.map_column("last_name", as_expr="trim($S)")
            wf.map_column("birth_date", type="DATE", safe=True)
            wf.map_column("registered_at", type="DATE", safe=True)
            mp = MatchPlan(wf.build(), target, target_pk="voter_id")
            mp.find_exact_matches(["state_file_id"])
            mp.find_exact_matches(["county_file_id", "last_name"])
            mp.find_exact_matches(["first_name", "last_name", "birth_date"])
            mp.fuzzy_match_column("last_name")
            matches = gw.working(gw.register(mp.matches(), cache=True))
            audit = merge_audit(matches)
            plan = MergePlan(target_pk="voter_id").exclude_column("phone")
            merged = gw.merge(plan, matches, target).target
            return audit, merged.collect()

    class Dedup(DedupJob):
        def job(self, gw):
            plan = DedupPlan(target, pk="voter_id")
            plan.find_duplicates(["first_name", "last_name", "birth_date"])
            plan.find_duplicates(["phone"])
            plan.merge_column_as("registered_at", "least($T, $S)")
            return gw.dedup(plan)

    return Import(spark), Dedup(spark)


def _run(spark):
    importer, deduper = _jobs(spark)
    audit, merged = importer.perform()
    (dedup,) = deduper.perform_audit()
    return audit.per_rule, len(merged), dict(dedup.per_rule)


def test_second_pass_compiles_no_classes(spark):
    """A voter import (3 exact rules + a fuzzy round + merge) and a
    registry dedup audit compile ~190 classes the first time. Run again
    in the same session, they must all come from the cache; at Spark's
    defaults (100 entries, stage ids in class names) the second run
    recompiled 223 of the first run's 230.

    AQE is off for the two runs: it re-plans each query from whichever
    stages have finished, so join strategies and build sides, and with
    them the generated code, can differ between runs of one job; the
    cache is then sized right but not every class is asked for twice."""
    assert int(spark.conf.get("spark.sql.codegen.cache.maxEntries")) == CODEGEN_CACHE_MAX_ENTRIES
    aqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        c0, _ = codegen_stats(spark)
        first = _run(spark)
        c1, _ = codegen_stats(spark)
        second = _run(spark)
        c2, _ = codegen_stats(spark)
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", aqe)
    # every rule of the cascade, the fuzzy round (smithe -> smith)
    # included, claims one voter; the audit finds voter 5 = voter 1
    assert first == second == ({1: 1, 2: 1, 3: 1, 4: 1}, 5, {1: 1})
    assert c2 - c1 == 0, f"second run recompiled {c2 - c1} classes (first run: {c1 - c0})"
