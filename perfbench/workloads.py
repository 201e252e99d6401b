"""The benchmark's workloads.

Each workload writes its inputs from the seed with ``datagen.write_fixture``,
runs one closed-loop cycle of calls into the engine's public entry points,
checks the cycle's outputs, and, when traced, calls each layer's public
function on the same input and reads the per-layer work from the event log.

``validate_full``  baseline snapshot, then a single-wave ``ValidationSuite.run``
                   with every check over a baseline-distributed table.  The
                   constraint layer does most of the work.
``resume_waves``   baseline from a normal batch, then the command-line tool's
                   run over a drifted batch: every check, the commits table,
                   cached waves, a parquet sink and a ``CheckpointManifest``
                   with lineage; then a resume after half the manifest is
                   removed.  The traced run also streams the drifted batch's
                   files through ``streaming.drift_stream``.
"""

from __future__ import annotations

import json
import math
import os
import random
import shutil
from dataclasses import dataclass, field, replace
from pathlib import Path

from pyspark.sql import DataFrame

from eventlog import EventLog, GroupTotals
from mlops_drift_detection_spark.datagen import CodeFilesSpec, expected_violation_counts
from mlops_drift_detection_spark.plans.manifest import CheckpointManifest, PartitionEntry
from mlops_drift_detection_spark.plans.suite import SuiteConfig, ValidationSuite
from mlops_drift_detection_spark.streaming.drift_stream import (
    finalize_accumulated_drift,
    foreach_batch_count_accumulator,
    run_file_stream_validation,
)

ROW_RULES = (
    "not_null_lang",
    "not_empty_content",
    "content_length_range",
    "commit_format",
    "sha256_invariant",
)

# (name, unit, better, deterministic): every traced run reports all of them;
# a layer the workload does not exercise reports 0.  Deterministic counters
# must repeat exactly between the two traced cycles of a run.
PER_LAYER = [
    ("session.start_s", "s", "lower", False),
    ("sources.scans_per_wave", "count", "lower", True),
    ("sources.rows_read_ratio", "ratio", "lower", True),
    ("sources.bytes_read", "B", "lower", True),
    ("sources.scan_s", "s", "lower", False),
    ("baseline.jobs", "count", "lower", True),
    ("baseline.scans", "count", "lower", True),
    ("baseline.s", "s", "lower", False),
    ("constraints.uniqueness.s", "s", "lower", False),
    ("constraints.uniqueness.shuffle_bytes", "B", "lower", True),
    ("constraints.uniqueness.rows_out", "count", "lower", True),
    ("constraints.referential.s", "s", "lower", False),
    ("constraints.referential.rows_out", "count", "lower", True),
    ("constraints.referential.broadcast", "count", "higher", True),
    ("constraints.row_rules.s", "s", "lower", False),
    ("constraints.row_rules.rows_out", "count", "lower", True),
    ("drift.s", "s", "lower", False),
    ("drift.shuffle_bytes", "B", "lower", True),
    ("drift.micro_rows", "count", "lower", True),
    ("drift.verdict_rows", "count", "lower", True),
    ("suite.waves", "count", "lower", True),
    ("suite.jobs_per_wave", "count", "lower", True),
    ("suite.wave_overhead_s", "s", "lower", False),
    ("jvm.gc_s", "s", "lower", False),
    ("spill_bytes", "B", "lower", False),
    ("manifest.commits", "count", "lower", True),
    ("manifest.commit_s", "s", "lower", False),
    ("sink.bytes_written", "B", "lower", False),
    ("sink.files_written", "count", "lower", True),
    ("sink.bytes_per_input_byte", "ratio", "lower", False),
    ("resume.rows_recomputed_share", "ratio", "lower", True),
    ("resume.s", "s", "lower", False),
    ("stream.batches", "count", "lower", True),
    ("stream.batch_s", "s", "lower", False),
    ("stream.finalize_s", "s", "lower", False),
    ("stream.s", "s", "lower", False),
    ("trace.cycle_s", "s", "lower", False),
]
UNITS = {name: unit for name, unit, _b, _d in PER_LAYER}
DETERMINISTIC = [name for name, _u, _b, det in PER_LAYER if det]


@dataclass
class Cycle:
    """One cycle's span records (wall and CPU start/end) and check failures."""

    rows: int
    primary: dict
    baseline: dict
    cycle: dict
    failures: list[str] = field(default_factory=list)


@dataclass
class Traced:
    metrics: dict[str, dict]
    attempted: int
    failed: int  # traced cycles whose own or layer output checks failed
    failures: list[str]


def data_files(path: str) -> tuple[int, int]:
    """(bytes, files) of the parquet data files under ``path``."""
    size = files = 0
    for d, _subdirs, names in os.walk(path):
        for n in names:
            if n.endswith(".parquet"):
                size += os.path.getsize(os.path.join(d, n))
                files += 1
    return size, files


def executed_plan(df: DataFrame) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def rows_without_run_id(rows) -> list[tuple]:
    return sorted(
        tuple((k, v) for k, v in r.asDict().items() if k != "run_id") for r in rows
    )


def gc_seconds(spark) -> float:
    beans = spark._jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
    return sum(b.getCollectionTime() for b in beans) / 1000.0


def _over_shuffle(node) -> bool:
    """True when the node's input comes straight from a shuffle read."""
    while node.children:
        node = node.children[0]
        if node.name.startswith(("ShuffleQueryStage", "Exchange", "AQEShuffleRead")):
            return True
        if not (node.name == "InputAdapter" or node.name.startswith("WholeStageCodegen")):
            return False
    return False


def scan_totals(groups: list[GroupTotals]) -> dict[str, float]:
    """Totals over the executed scans of the code_files table."""
    scans = [n for g in groups for n in g.executed("Scan parquet", "code_files")]

    def total(name: str) -> int:
        return sum(n.metrics.get(name, 0) for n in scans)

    return {
        "scans": len(scans),
        "rows": total("number of output rows"),
        "bytes": total("size of files read"),
        "s": total("scan time") / 1000.0,
    }


BASE_ROWS = 40_000  # the normal batch both workloads read
DRIFT_ROWS = 20_000  # the drifted batch resume_waves validates
DRIFT_BUCKETS = 4


def spec(seed: int, rows: int, drifted: bool = False) -> CodeFilesSpec:
    return CodeFilesSpec(
        n_rows=rows,
        n_repos=100,
        n_commits=max(2_000, rows // 50),
        drifted=drifted,
        seed=seed,
        partitions=4,
    )


def inputs(seed: int) -> dict[str, tuple[CodeFilesSpec, int | None]]:
    """Fixture name -> (spec, ``part_id`` buckets or None) for one seed.

    The drifted batch is written partitioned by the suite's ``part_id``, so
    wave filters and resume prune directories from the scan."""
    return {
        "base": (spec(seed, BASE_ROWS), None),
        "drifted": (spec(seed + 1, DRIFT_ROWS, drifted=True), DRIFT_BUCKETS),
    }


class Workload:
    name = ""
    input = ""  # the fixture the suite validates
    needs: tuple[str, ...] = ()  # the fixtures the workload reads

    def __init__(self, seed: int, run_dir: Path):
        self.seed = seed
        self.run_dir = run_dir
        self.spark = None

    def fixture(self, name: str) -> Path:
        return self.run_dir / "fixtures" / name

    def generate(self, spark) -> None:
        """Write the workload's inputs with ``datagen.write_fixture``.  Every
        run writes them afresh in the measured JVM, as part of set-up, so
        every run starts its first timed operation from the same state."""
        from mlops_drift_detection_spark.datagen import write_fixture

        for name in self.needs:
            fx, buckets = inputs(self.seed)[name]
            write_fixture(spark, str(self.fixture(name)), fx, partition_buckets=buckets)

    def read(self, spark, name: str, table: str = "code_files") -> DataFrame:
        return spark.read.parquet(str(self.fixture(name) / table))

    def open(self, spark) -> None:
        """The validated table, its commits table and the expected counts."""
        self.spark = spark
        self.cf = self.read(spark, self.input)
        self.cm = self.read(spark, self.input, "commits")
        fx = inputs(self.seed)[self.input][0]
        exp = expected_violation_counts(fx)
        self.expect_rows = fx.n_rows + exp["duplicates"]
        self.expect_violations = exp["duplicates"] + exp["dangling"] + 3 * exp["null_lang"]
        self.expect_lang_rows = self.expect_rows - exp["null_lang"]

    def check_counts(self, tag: str, res, violations: list) -> list[str]:
        failures = []
        if res.n_rows_validated != self.expect_rows:
            failures.append(f"{tag}: validated {res.n_rows_validated} rows, expected {self.expect_rows}")
        if len(violations) != self.expect_violations:
            failures.append(f"{tag}: {len(violations)} violation rows, expected {self.expect_violations}")
        return failures

    def self_test(self) -> list[str]:
        """The timed plans must still do the work they are named for."""
        suite = ValidationSuite(self.baseline, self.config)
        dfp = suite.with_partition(self.cf)
        failures = []
        if "sha2(" not in executed_plan(suite.violations(dfp, self.cm)):
            failures.append("violations plan no longer computes sha2")
        drift_plan = executed_plan(suite.drift_verdicts(dfp))
        if not ("zip_with" in drift_plan and "ln(" in drift_plan):
            failures.append("drift plan no longer computes PSI")
        return failures

    # filled in by each workload
    def cycle(self, spans, tag: str) -> Cycle: ...
    def layers(self, spans, tag: str) -> dict: ...
    def layer_metrics(self, log: EventLog, spans, tag: str, info: dict) -> dict: ...

    def traced(self, spans, event_log_dir: Path, stop) -> Traced:
        """Two traced cycles, each followed by the standalone layer calls.
        The layer metrics are the second's, when every layer call has run
        once; the deterministic counters of the two must be equal."""
        infos, cycles = {}, []
        for tag in ("t1", "t2"):
            gc0 = gc_seconds(self.spark)
            cycles.append(self.cycle(spans, tag))
            info = {"gc_s": gc_seconds(self.spark) - gc0}
            info.update(self.layers(spans, tag))
            infos[tag] = info
        self_test = self.self_test()
        stop()
        log = EventLog(str(event_log_dir))
        per_tag = {tag: self.layer_metrics(log, spans, tag, infos[tag]) for tag in infos}
        per_cycle = [c.failures + infos[tag].get("failures", []) for c, tag in zip(cycles, infos)]
        failures = [f for fs in per_cycle for f in fs] + self_test
        for name in DETERMINISTIC:
            a, b = per_tag["t1"].get(name, 0), per_tag["t2"].get(name, 0)
            if a != b:
                failures.append(f"counter {name} did not repeat: {a} then {b}")
        metrics = {name: 0 for name in UNITS if name != "session.start_s"}
        metrics.update(per_tag["t2"])
        # the first traced cycle is the process's first, like the untraced run's
        metrics["trace.cycle_s"] = cycles[0].cycle["end"] - cycles[0].cycle["start"]
        return Traced(
            {k: {"value": v, "unit": UNITS[k]} for k, v in metrics.items()},
            attempted=len(cycles),
            failed=sum(1 for fs in per_cycle if fs),
            failures=failures,
        )

    def operator_layers(self, spans, tag: str) -> dict:
        """Each operator layer's public function on the cycle's input: the
        suite's violations restricted to one check, and its drift verdicts."""
        suite = ValidationSuite(self.baseline, self.config)
        dfp = suite.with_partition(self.cf)
        out = {}
        for layer, checks in (
            ("uniqueness", ("uniqueness",)),
            ("referential", ("referential",)),
            ("row_rules", ROW_RULES),
        ):
            one = ValidationSuite(self.baseline, replace(self.config, checks=checks))
            with spans.span(f"{tag}:layer.{layer}"):
                out[f"{layer}_rows"] = len(one.violations(dfp, self.cm).collect())
        with spans.span(f"{tag}:layer.drift"):
            out["drift_rows"] = len(suite.drift_verdicts(dfp).collect())
        return out

    @staticmethod
    def operator_metrics(log: EventLog, spans, tag: str, info: dict) -> dict:
        g = log.group(f"{tag}:layer.drift")
        micro = [n for n in g.executed("HashAggregate") if _over_shuffle(n)]
        m = {
            "drift.s": spans.seconds(f"{tag}:layer.drift"),
            "drift.shuffle_bytes": g.shuffle_bytes,
            "drift.micro_rows": sum(n.metrics.get("number of output rows", 0) for n in micro),
            "drift.verdict_rows": info["drift_rows"],
        }
        for layer in ("uniqueness", "referential", "row_rules"):
            m[f"constraints.{layer}.s"] = spans.seconds(f"{tag}:layer.{layer}")
            m[f"constraints.{layer}.rows_out"] = info[f"{layer}_rows"]
        m["constraints.uniqueness.shuffle_bytes"] = log.group(f"{tag}:layer.uniqueness").shuffle_bytes
        m["constraints.referential.broadcast"] = len(
            log.group(f"{tag}:layer.referential").executed("BroadcastExchange")
        )
        standalone = sum(
            spans.seconds(f"{tag}:layer.{x}")
            for x in ("uniqueness", "referential", "row_rules", "drift")
        )
        m["suite.wave_overhead_s"] = spans.seconds(f"{tag}:suite.run") - standalone
        return m

    @staticmethod
    def common_metrics(log: EventLog, spans, tag: str, info: dict,
                       runs: list[str], waves: int, rows_validated: int) -> dict:
        run_groups = [log.group(f"{tag}:{r}") for r in runs]
        scans = scan_totals(run_groups)
        base = log.group(f"{tag}:baseline")
        cycle_groups = [g for g in {r["name"] for r in spans.records}
                        if g.startswith(f"{tag}:")]
        return {
            "sources.scans_per_wave": scans["scans"] / waves,
            "sources.rows_read_ratio": scans["rows"] / rows_validated,
            "sources.bytes_read": scans["bytes"],
            "sources.scan_s": scans["s"],
            "baseline.jobs": base.jobs,
            "baseline.scans": scan_totals([base])["scans"],
            "baseline.s": spans.seconds(f"{tag}:baseline"),
            "suite.waves": waves,
            "suite.jobs_per_wave": sum(g.jobs for g in run_groups) / waves,
            "jvm.gc_s": info["gc_s"],
            "spill_bytes": sum(log.group(g).spill_bytes for g in cycle_groups),
        }


class ValidateFull(Workload):
    name = "validate_full"
    input = "base"
    needs = ("base",)
    buckets = 32

    def open(self, spark) -> None:
        super().open(spark)
        self.config = SuiteConfig(n_partition_buckets=self.buckets, cache_waves=False)

    def cycle(self, spans, tag: str) -> Cycle:
        with spans.span(f"{tag}:cycle") as c:
            with spans.span(f"{tag}:baseline") as b:
                self.baseline = ValidationSuite.compute_baseline_snapshot(self.cf)
            suite = ValidationSuite(self.baseline, self.config)
            with spans.span(f"{tag}:suite.run") as r:
                res = suite.run(self.cf, self.cm)
                viol = res.violations.collect()
                verd = res.verdicts.collect()
                res.summary.collect()
                res.release()
        failures = self.check_counts(tag, res, viol)
        if not verd:
            failures.append(f"{tag}: no drift verdicts")
        return Cycle(res.n_rows_validated, r, b, c, failures)

    def layers(self, spans, tag: str) -> dict:
        return {**self.operator_layers(spans, tag), "rows_validated": self.expect_rows}

    def layer_metrics(self, log: EventLog, spans, tag: str, info: dict) -> dict:
        m = self.common_metrics(log, spans, tag, info, ["suite.run"], 1, info["rows_validated"])
        m.update(self.operator_metrics(log, spans, tag, info))
        return m


class ResumeWaves(Workload):
    """The command-line tool's run (``cli.py``): the default ``SuiteConfig``
    (every check, cached waves), the commits table, a parquet sink and a
    manifest with the tool's lineage keys, over a table written partitioned
    by ``part_id``; then the tool's ``--resume`` after half the manifest is
    lost."""

    name = "resume_waves"
    input = "drifted"
    needs = ("base", "drifted")
    n_waves = 1
    stream_batches = 8

    def open(self, spark) -> None:
        super().open(spark)
        self.cf_path = str(self.fixture("drifted") / "code_files")
        self.ref = self.read(spark, "base")
        self.stream_schema = self.cf.drop("part_id").schema
        self.input_bytes, n_files = data_files(self.cf_path)
        self.files_per_trigger = max(2, math.ceil(n_files / self.stream_batches))
        self.config = SuiteConfig(n_partition_buckets=DRIFT_BUCKETS)
        self.lineage = {
            "input": self.cf_path,
            "n_buckets": DRIFT_BUCKETS,
            "checks": ",".join(self.config.checks),
        }

    def _trim_manifest(self, manifest_dir: Path) -> set[str]:
        """Remove a seeded half of the manifest entries; returns the kept ones."""
        entries = {}
        for p in sorted((manifest_dir / "parts").glob("*.json")):
            entries[json.loads(p.read_text())["partition"]] = p
        parts = sorted(entries)
        drop = set(random.Random(self.seed).sample(parts, len(parts) // 2))
        for part in drop:
            entries[part].unlink()
        return set(parts) - drop

    def _run(self, suite, work: Path, resume: bool):
        """One checkpointed run; every output column collected."""
        res = suite.run(
            self.cf, self.cm,
            manifest=CheckpointManifest(str(work / "manifest"), lineage=self.lineage),
            resume=resume, n_waves=self.n_waves, output_dir=str(work / "sink"),
        )
        out = (res.verdicts.collect(), res.violations.collect())
        res.summary.collect()
        return res, out

    def cycle(self, spans, tag: str) -> Cycle:
        """Baseline, checkpointed run, resume after half the manifest is
        removed."""
        work = self.run_dir / tag
        shutil.rmtree(work, ignore_errors=True)
        with spans.span(f"{tag}:cycle") as c:
            with spans.span(f"{tag}:baseline") as b:
                self.baseline = ValidationSuite.compute_baseline_snapshot(self.ref)
            suite = ValidationSuite(self.baseline, self.config)
            with spans.span(f"{tag}:suite.run") as r:
                res, fresh = self._run(suite, work, resume=False)
            self.sink_stats = data_files(str(work / "sink"))
            fresh_commits = len(list((work / "manifest" / "parts").glob("*.json")))
            kept = self._trim_manifest(work / "manifest")
            with spans.span(f"{tag}:suite.resume"):
                res2, resumed = self._run(suite, work, resume=True)
        shutil.rmtree(work, ignore_errors=True)
        self.resume_info = {
            "fresh_parts": fresh_commits,
            "fresh_rows": res.n_rows_validated,
            "resume_rows": res2.n_rows_validated,
            "recomputed_parts": fresh_commits - len(res2.skipped_partitions),
        }
        verd = fresh[0]
        failures = self.check_counts(tag, res, fresh[1])
        if not verd or not all(v["drift_detected"] for v in verd):
            failures.append(f"{tag}: {sum(not v['drift_detected'] for v in verd)} of "
                            f"{len(verd)} drifted verdicts did not alarm")
        if any(rows_without_run_id(a) != rows_without_run_id(b) for a, b in zip(resumed, fresh)):
            failures.append(f"{tag}: resumed output differs from the fresh output")
        if set(res2.skipped_partitions) != kept:
            failures.append(f"{tag}: resume skipped {sorted(res2.skipped_partitions)}, "
                            f"expected {sorted(kept)}")
        return Cycle(res.n_rows_validated, r, b, c, failures)

    def _stream(self, work: Path, spans, tag: str) -> list[str]:
        """The drifted batch's files streamed as micro-batches through the
        count accumulator, then one finalize."""
        lang = self.baseline.categorical["lang"]
        acc: dict = {}
        with spans.span(f"{tag}:stream"):
            query = run_file_stream_validation(
                self.spark, f"{self.cf_path}/*", self.stream_schema,
                str(work / "stream-checkpoint"),
                foreach_batch_count_accumulator(key_col="lang", tag_col="repo", acc=acc),
                max_files_per_trigger=self.files_per_trigger,
            )
            query.awaitTermination()
            with spans.span(f"{tag}:stream.finalize"):
                verdicts = finalize_accumulated_drift(
                    acc, dict(zip(lang.categories, lang.counts)), lang.categories
                )
        self.stream_info = {
            "batches": len(acc),
            "batch_s": sorted(
                p["durationMs"]["triggerExecution"] / 1000.0 for p in query.recentProgress
            ),
        }
        streamed = sum(v["n_rows"] for v in verdicts)
        if streamed != self.expect_lang_rows:
            return [f"{tag}: stream verdicts cover {streamed} rows, "
                    f"expected {self.expect_lang_rows}"]
        return []

    def layers(self, spans, tag: str) -> dict:
        work = self.run_dir / f"{tag}-stream"
        failures = self._stream(work, spans, tag)
        shutil.rmtree(work, ignore_errors=True)
        out = self.operator_layers(spans, tag)
        scratch = self.run_dir / f"{tag}-manifest"
        shutil.rmtree(scratch, ignore_errors=True)
        manifest = CheckpointManifest(str(scratch), lineage=self.lineage)
        with spans.span(f"{tag}:layer.manifest"):
            for p in range(self.resume_info["fresh_parts"]):
                manifest.mark_complete(
                    PartitionEntry(str(p), DRIFT_ROWS // DRIFT_BUCKETS, 0, list(self.config.checks))
                )
        shutil.rmtree(scratch, ignore_errors=True)
        return {**out, **self.resume_info, **self.stream_info,
                "sink": self.sink_stats, "failures": failures}

    def layer_metrics(self, log: EventLog, spans, tag: str, info: dict) -> dict:
        fresh_parts, recomputed = info["fresh_parts"], info["recomputed_parts"]
        waves = min(self.n_waves, fresh_parts) + min(self.n_waves, recomputed)
        m = self.common_metrics(
            log, spans, tag, info, ["suite.run", "suite.resume"], waves,
            info["fresh_rows"] + info["resume_rows"],
        )
        m.update(self.operator_metrics(log, spans, tag, info))
        sink_bytes, sink_files = info["sink"]
        m.update({
            "manifest.commits": fresh_parts + recomputed,
            "manifest.commit_s": spans.seconds(f"{tag}:layer.manifest"),
            "sink.bytes_written": sink_bytes,
            "sink.files_written": sink_files,
            "sink.bytes_per_input_byte": sink_bytes / self.input_bytes,
            "resume.rows_recomputed_share": info["resume_rows"] / info["fresh_rows"],
            "resume.s": spans.seconds(f"{tag}:suite.resume"),
            "stream.batches": info["batches"],
            "stream.batch_s": info["batch_s"][len(info["batch_s"]) // 2] if info["batch_s"] else 0.0,
            "stream.finalize_s": spans.seconds(f"{tag}:stream.finalize"),
            "stream.s": spans.seconds(f"{tag}:stream"),
        })
        return m


WORKLOADS = {w.name: w for w in (ValidateFull, ResumeWaves)}
