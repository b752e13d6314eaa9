"""The benchmark workloads: one pass each, plus its checks.

A pass runs a workload's operations once, from reading the generated
inputs to every result fully materialized on the driver. An operation
is a timed ``run`` and an untimed ``check`` of its result against the
reference; it yields an ``Op`` record. A raised exception is a failed
operation, not a crashed run.
"""

from __future__ import annotations

import time
import traceback
from contextlib import nullcontext
from dataclasses import dataclass, field
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession

from oracle import oracle_hashes, result_hash

# Spark 4.1 rejects the Python codec alias "latin-1"
# (INVALID_PARAMETER_VALUE.CHARSET); the Java charset name works.
CSV_ENCODING = "ISO-8859-1"


@dataclass
class Op:
    name: str
    seconds: float
    ok: bool
    detail: dict = field(default_factory=dict)


def run_op(name: str, run, check, tracer=None) -> Op:
    """Time run(); then check(result) -> (ok, detail), untimed. With a
    tracer, run() executes under a root span of its own."""
    t0 = time.perf_counter()
    try:
        with tracer.root(name) if tracer is not None else nullcontext():
            result = run()
        seconds = time.perf_counter() - t0
        ok, detail = check(result)
    except Exception as exc:  # a failing operation is a measured outcome
        seconds = time.perf_counter() - t0
        ok, detail = False, {"error": f"{type(exc).__name__}: {exc}"[:2000],
                             "trace": traceback.format_exc(limit=4)[-2000:]}
    return Op(name, seconds, ok, detail)


class Workload:
    name: str

    def __init__(self, input_dir: Path, manifest: dict, work: Path):
        self.input_dir = input_dir
        self.manifest = manifest
        self.work = work
        self.notes: list[str] = []
        self.stats: dict = {}  # counts behind the traced run's ratios

    @property
    def input_rows(self) -> int:
        return sum(f["rows"] for f in self.manifest["files"].values())

    def prepare(self) -> None:
        """Untimed per-seed preparation (reference results)."""

    def probe_notes(self, spark: SparkSession) -> None:
        """Untimed checks whose outcome goes to the run's notes."""

    def run_pass(self, spark: SparkSession, tracer=None) -> list[Op]:
        raise NotImplementedError


class CorpusDedup(Workload):
    """Catalog queries over a generated sf directory, each collected to
    the driver and checked by its order-insensitive hash against the
    DuckDB oracle."""

    name = "corpus_dedup"
    queries = [
        "dedup_minhash_lsh",
        "fuzzy_top1_documents",
        "embed_semantic_dedup",
        "dedup_substring_scrub",
    ]

    def prepare(self) -> None:
        self.expected = oracle_hashes(self.input_dir, self.queries, self.work / "duckdb")
        self.notes = [f"{q}: DuckDB oracle {v['seconds']:.2f}s, {v['rows']} rows"
                      for q, v in self.expected.items()]

    def run_pass(self, spark: SparkSession, tracer=None) -> list[Op]:
        from voter_gateway_spark.queries import QUERIES

        def check(q, got):
            exp = self.expected[q]
            if q == "fuzzy_top1_documents":  # its sources are doc_id < 100
                self.stats.update(fuzzy_claimed=len(got), fuzzy_residual=100)
            match = result_hash(got) == exp["hash"]
            return match, {"rows": len(got), "oracle_rows": exp["rows"], "hash_match": match}

        return [
            run_op(q, lambda q=q: QUERIES[q](spark, str(self.input_dir)).toPandas(),
                   lambda got, q=q: check(q, got), tracer)
            for q in self.queries
        ]


# -- voter_import ---------------------------------------------------------------


def _stage(raw: DataFrame) -> DataFrame:
    from voter_gateway_spark.plans import WorkingFrame

    wf = WorkingFrame(raw)
    for c in ("state_file_id", "county_file_id", "address", "city", "zip", "phone", "party"):
        wf.map_column(c, type="TEXT")
    wf.map_column("first_name", as_expr="trim($S)")
    wf.map_column("last_name", as_expr="trim($S)")
    wf.map_column("birth_date", type="DATE", safe=True)
    wf.map_column("registered_at", type="DATE", safe=True)
    return wf.build()


def _jobs(csv_path: str, registry: str, merged: str):
    """The voter import and registry dedup jobs (ImportJob/DedupJob
    subclasses bound to this pass's paths)."""
    from voter_gateway_spark.audit import merge_audit
    from voter_gateway_spark.jobs import DedupJob, ImportJob
    from voter_gateway_spark.plans import DedupPlan, MatchPlan, MergePlan
    from voter_gateway_spark.sources import CSVSource
    from voter_gateway_spark.sources.sinks import write_table

    class VoterImport(ImportJob):
        """CSV → stage → 3-rule exact cascade + fuzzy surname round →
        per-rule match audit → upsert into the registry, written as
        parquet. Returns the audit and the malformed-line count."""

        def job(self, gw):
            src = CSVSource(csv_path, quote="^", encoding=CSV_ENCODING,
                            remove_malformed=True)
            staged = _stage(src.read(gw.spark))
            target = gw.spark.read.parquet(registry)
            mp = MatchPlan(staged, target, target_pk="voter_id")
            mp.find_exact_matches(["state_file_id"])
            mp.find_exact_matches(["county_file_id", "last_name"])
            mp.find_exact_matches(["first_name", "last_name", "birth_date"])
            mp.fuzzy_match_column("last_name")
            matches = gw.working(gw.register(mp.matches(), cache=True))
            audit = merge_audit(matches)
            plan = (
                MergePlan(target_pk="voter_id")
                .exclude_column("phone")
                .merge_column_as("state_file_id", "coalesce($S, $T)")
                .merge_column_as("county_file_id", "coalesce($S, $T)")
                .insert_column_as("voter_id", "CAST(substr(state_file_id, 3) AS BIGINT)")
            )
            write_table(gw.merge(plan, matches, target).target, merged)
            return audit, src.malformed_count()

    class RegistryDedup(DedupJob):
        """Self-dedup of the merged registry: same name + birth date,
        or same phone; the lowest voter_id survives."""

        def job(self, gw):
            plan = DedupPlan(gw.spark.read.parquet(merged), pk="voter_id")
            plan.find_duplicates(["first_name", "last_name", "birth_date"])
            plan.find_duplicates(["phone"])
            plan.merge_column_as("registered_at", "least($T, $S)")
            return gw.dedup(plan)

    return VoterImport, RegistryDedup


class VoterImport(Workload):
    """ImportJob.perform (match audit + parquet write), then
    DedupJob.perform_audit and DedupJob.perform with a table audit,
    each checked against the generator's ground truth."""

    name = "voter_import"

    def probe_notes(self, spark: SparkSession) -> None:
        """Record whether the Python codec alias still fails."""
        from voter_gateway_spark.sources import CSVSource

        src = CSVSource(str(self.input_dir / "voters.csv"), quote="^",
                        encoding="latin-1", remove_malformed=True)
        try:
            src.headers(spark)
            self.notes.append('CSVSource(encoding="latin-1") reads')
        except Exception as exc:
            self.notes.append(f'CSVSource(encoding="latin-1") fails: '
                              f'{type(exc).__name__}: {str(exc)[:200]}; '
                              f'the benchmark reads with {CSV_ENCODING!r}')

    def run_pass(self, spark: SparkSession, tracer=None) -> list[Op]:
        from voter_gateway_spark.audit import database_audit

        truth = self.manifest["truth"]
        merged = str(self.work / "voter_import_merged")
        importer, deduper = _jobs(str(self.input_dir / "voters.csv"),
                                  str(self.input_dir / "registry.parquet"), merged)
        expect_merged = truth["registry_rows"] + truth["new_rows"]
        expect_dedup = expect_merged - sum(truth["planted_dups"].values())

        def check_import(result):
            audit, malformed = result
            rows = spark.read.parquet(merged).count()
            per_rule = {str(k): v for k, v in audit.per_rule.items()}
            fuzzy = per_rule.get("4", 0)
            self.stats = {"source_rows": audit.total, "matched": audit.matched,
                          "fuzzy_claimed": fuzzy,
                          "fuzzy_residual": audit.total - audit.matched + fuzzy,
                          "malformed": malformed}
            ok = (audit.total == truth["good_rows"] and per_rule == truth["per_rule"]
                  and audit.total + malformed == truth["data_lines"]
                  and rows == expect_merged)
            return ok, {"source_rows": audit.total, "per_rule": per_rule,
                        "malformed_count": malformed, "merged_rows": rows}

        def check_dedup_audit(results):
            (res,) = results
            per_rule = {str(k): v for k, v in res.per_rule.items()}
            ok = (per_rule == truth["planted_dups"] and res.reflexive_merges == 0
                  and res.symmetric_merges == 0)
            return ok, {"per_rule": per_rule, "reflexive": res.reflexive_merges,
                        "symmetric": res.symmetric_merges}

        def check_dedup(audit):
            return audit.total_records == expect_dedup, {"rows": audit.total_records}

        return [
            run_op("import_merge_write", lambda: importer(spark).perform(),
                   check_import, tracer),
            run_op("dedup_audit", lambda: deduper(spark).perform_audit(),
                   check_dedup_audit, tracer),
            run_op("dedup_execute_audit",
                   lambda: database_audit(deduper(spark).perform(),
                                          distribution_columns=["party"]),
                   check_dedup, tracer),
        ]


WORKLOADS = {w.name: w for w in (VoterImport, CorpusDedup)}
