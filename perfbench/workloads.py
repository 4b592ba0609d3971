"""The benchmark's workloads.

Each workload is a closed loop with one client: ``before_op`` (untimed)
prepares the next operation, ``op`` is the timed call into the package's
public API, and ``check`` (untimed) verifies the operation's output and
returns the reasons it failed, if any.
"""

from __future__ import annotations

import os
import shutil

import pandas as pd

from data_quality_automated_evaluator_spark.pipeline.oracle import f1_score
from data_quality_automated_evaluator_spark.pipeline.quality import interval_rule_stats
from data_quality_automated_evaluator_spark.pipeline.sinks import (
    IcebergQualitySink,
    QualitySink,
)

from .inputs import Inputs

# span names of the traced calls, per layer (see Workload.trace)
_SINK_METHODS = ["discover_partitions", "ledger_entries", "_write_turns",
                 "_write_stats", "_write_lineage", "_sync_partials",
                 "_write_ledger_entry", "read_turns"]
_SINK_FUNCS = ["run_quality_pipeline", "interval_rule_partials",
               "combine_rule_partials", "attach_quality_observation",
               "_parquet_footer_null_count"]


def _trace_spark_actions(tracer) -> None:
    """Spans around the Spark actions every layer ends in."""
    from pyspark.sql import readwriter
    from pyspark.sql.classic import dataframe

    for attr in ("collect", "count", "toPandas", "rdd", "inputFiles"):
        tracer.patch(dataframe.DataFrame, attr, f"spark.{attr}")
    for attr in ("parquet", "save"):
        tracer.patch(readwriter.DataFrameWriter, attr, f"spark.write.{attr}")
    tracer.patch(readwriter.DataFrameReader, "parquet", "spark.read.parquet")


def _trace_sink(tracer, sink_cls) -> None:
    from data_quality_automated_evaluator_spark.pipeline import sinks

    for cls in {QualitySink, sink_cls}:
        for m in _SINK_METHODS:
            if m in vars(cls):
                tracer.patch(cls, m, f"sinks.{m}")
    for f in _SINK_FUNCS:
        layer = "pipeline" if f != "_parquet_footer_null_count" else "sinks"
        tracer.patch(sinks, f, f"{layer}.{f}")
    _trace_spark_actions(tracer)


def tree_files(root: str) -> dict[str, tuple[int, int]]:
    """path → (size, mtime_ns) of every regular file under ``root``."""
    out = {}
    for dirpath, _dirs, files in os.walk(root):
        for f in files:
            st = os.stat(os.path.join(dirpath, f))
            out[os.path.join(dirpath, f)] = (st.st_size, st.st_mtime_ns)
    return out


def written_since(before: dict, root: str) -> dict:
    """Files and bytes created or rewritten under ``root`` since ``before``;
    ``metadata_bytes`` counts everything that is not a parquet data file
    (Iceberg metadata JSON and Avro manifests, ledger entries, checksums)."""
    files = bytes_ = meta = 0
    for path, st in tree_files(root).items():
        if before.get(path) == st:
            continue
        files += 1
        bytes_ += st[0]
        if not path.endswith(".parquet"):
            meta += st[0]
    return {"files_written": files, "bytes_written": bytes_, "metadata_bytes": meta}


def label_disagreement(written: pd.DataFrame, oracle: pd.DataFrame) -> tuple[int, int]:
    """(turns whose written ``keep`` differs from the single-pass reference,
    turns compared)."""
    m = written[["conv_id", "turn_idx", "keep"]].merge(
        oracle[["conv_id", "turn_idx", "keep"]], on=["conv_id", "turn_idx"],
        suffixes=("", "_ref"))
    return int((m["keep"] != m["keep_ref"]).sum()), len(m)


class Workload:
    name = ""
    root_span = ""

    def __init__(self, spark, inputs: Inputs, work: str) -> None:
        self.spark = spark
        self.inputs = inputs
        self.work = work
        self.disagree = [0, 0]  # [differing turns, compared turns]

    def warm_up(self) -> None:
        """The untimed cold operation of set-up. It pays the one-time costs
        (class loading, generated-code compilation, starting every Python
        worker the operation uses), so the first measured operation runs
        as warm as the later ones."""
        raise NotImplementedError

    def prepare(self) -> None:
        """State built after set-up, outside ``setup_s`` (sink-state restore)."""

    def reset(self) -> None:
        """Return to the state ``prepare`` left (before the one-core run)."""

    def finish(self) -> None:
        """Untimed work after the measured loop."""

    def max_ops(self) -> int | None:
        return None

    def before_op(self, i: int) -> None:
        pass

    def op(self, i: int):
        raise NotImplementedError

    def check(self, i: int, result) -> list[str]:
        raise NotImplementedError

    def new_turns(self, i: int) -> int:
        """Input turns the operation completes (for ``rows_per_s``)."""
        raise NotImplementedError

    def in_bytes(self, i: int) -> int:
        """Input parquet bytes the operation's new turns arrive in."""
        return self.inputs.meta["table_bytes"]

    def sink_root(self) -> str | None:
        return None

    def pipeline_input(self, i: int):
        """The rows the operation's quality pipeline processes."""
        return None

    def trace(self, tracer) -> None:
        raise NotImplementedError

    def rebind(self, spark) -> None:
        self.spark = spark


class Backfill(Workload):
    """One ``QualitySink.run`` (parquet) over the whole table into an empty
    sink root."""

    name = "backfill"
    root_span = "sinks.run"

    def __init__(self, spark, inputs, work):
        super().__init__(spark, inputs, work)
        self.root = os.path.join(work, "backfill_sink")

    def warm_up(self):
        """One full operation into a sink root of its own."""
        root = os.path.join(self.work, "warmup_sink")
        QualitySink(root).run(self.spark.read.parquet(self.inputs.table_path))
        shutil.rmtree(root)

    def before_op(self, i):
        shutil.rmtree(self.root, ignore_errors=True)

    def op(self, i):
        return QualitySink(self.root).run(self.spark.read.parquet(self.inputs.table_path))

    def check(self, i, summary):
        errs = []
        n = self.inputs.meta["turns"]
        sink = QualitySink(self.root)
        ledger_turns = sum(e["n_turns"] for e in sink.ledger_entries().values())
        if ledger_turns != n or summary["n_turns"] != n:
            errs.append(f"ledger n_turns {ledger_turns} / summary {summary['n_turns']} != input {n}")
        got = sink.read_turns(self.spark).select(
            "conv_id", "turn_idx", "keep", "text_scrubbed").toPandas()
        ref = self.inputs.oracle()
        m = got.merge(ref, on=["conv_id", "turn_idx"], suffixes=("", "_ref"))
        if len(got) != n or len(m) != n:
            errs.append(f"written rows {len(got)}, matched {len(m)}, input {n}")
        f1 = f1_score(m["keep_ref"], m["keep"])
        if f1 < 0.99:
            errs.append(f"keep F1 {f1:.4f} < 0.99")
        bad = int((m["text_scrubbed"] != m["text_scrubbed_ref"]).sum())
        if bad:
            errs.append(f"{bad} scrubbed texts differ from the oracle")
        d, c = label_disagreement(got, ref)
        self.disagree[0] += d
        self.disagree[1] += c
        return errs

    def new_turns(self, i):
        return self.inputs.meta["turns"]

    def sink_root(self):
        return self.root

    def pipeline_input(self, i):
        return self.spark.read.parquet(self.inputs.table_path)

    def trace(self, tracer):
        tracer.patch(QualitySink, "run", "sinks.run")
        _trace_sink(tracer, QualitySink)


class DailyIncrement(Workload):
    """An Iceberg sink holding the first ``PREFILL_DAYS`` days; each
    operation is one ``sink.run(..., batch_days=1)`` after the next day's
    turns landed as a new parquet file in the source directory."""

    name = "daily_increment"
    root_span = "sinks.run"
    PREFILL_DAYS = 60

    def __init__(self, spark, inputs, work):
        super().__init__(spark, inputs, work)
        self.src = os.path.join(work, "daily_src")
        self.root = os.path.join(work, "daily_sink")
        self.snapshot = os.path.join(work, "daily_snapshot")
        self.days = inputs.days

    def _day(self, i):
        return self.days[self.PREFILL_DAYS + i]

    def warm_up(self):
        """One increment-sized run (the table's first day) into a sink
        root of its own."""
        root = os.path.join(self.work, "warmup_sink")
        IcebergQualitySink(root).run(
            self.spark.read.parquet(self.inputs.day_path(self.days[0])))
        shutil.rmtree(root)

    def prepare(self):
        os.makedirs(self.src)
        for d in self.days[:self.PREFILL_DAYS]:
            shutil.copyfile(self.inputs.day_path(d), os.path.join(self.src, f"{d}.parquet"))
        IcebergQualitySink(self.root).run(self.spark.read.parquet(self.src))
        shutil.copytree(self.root, self.snapshot)

    def reset(self):
        shutil.rmtree(self.root)
        shutil.copytree(self.snapshot, self.root)
        for f in os.listdir(self.src):
            if f[:-len(".parquet")] not in self.days[:self.PREFILL_DAYS]:
                os.remove(os.path.join(self.src, f))

    def max_ops(self):
        return len(self.days) - self.PREFILL_DAYS

    def before_op(self, i):
        d = self._day(i)
        self._ledger_before = set(IcebergQualitySink(self.root).ledger_entries())
        shutil.copyfile(self.inputs.day_path(d), os.path.join(self.src, f"{d}.parquet"))

    def op(self, i):
        return IcebergQualitySink(self.root).run(
            self.spark.read.parquet(self.src), batch_days=1)

    def check(self, i, summary):
        errs = []
        d = self._day(i)
        sink = IcebergQualitySink(self.root)
        entries = sink.ledger_entries()
        new = set(entries) - self._ledger_before
        if new != {d}:
            errs.append(f"ledger gained {sorted(new)}, expected [{d}]")
            return errs
        day_rows = self.inputs.meta["day_turns"][d]
        turns = sink.read_turns(self.spark)
        landed = turns.filter(turns.part_date == d).count()
        if not entries[d]["n_turns"] == landed == day_rows:
            errs.append(f"{d}: ledger n_turns {entries[d]['n_turns']}, landed {landed}, "
                        f"day file {day_rows}")
        folded = sink.read_stats_table(self.spark).toPandas()
        recomputed = interval_rule_stats(turns).toPandas()
        if not _frames_close(folded, recomputed, "__time_interval"):
            errs.append("folded stats differ from a recompute over the written turns")
        return errs

    def finish(self):
        """Label disagreement over every turn the sink holds after the loop:
        the prefilled days (one pass) and each day added one at a time."""
        written = IcebergQualitySink(self.root).read_turns(self.spark).select(
            "conv_id", "turn_idx", "keep").toPandas()
        d, c = label_disagreement(written, self.inputs.oracle())
        self.disagree = [d, c]

    def new_turns(self, i):
        return self.inputs.meta["day_turns"][self._day(i)]

    def in_bytes(self, i):
        return os.path.getsize(self.inputs.day_path(self._day(i)))

    def sink_root(self):
        return self.root

    def pipeline_input(self, i):
        return self.spark.read.parquet(self.inputs.day_path(self._day(i)))

    def trace(self, tracer):
        tracer.patch(QualitySink, "run", "sinks.run")
        _trace_sink(tracer, IcebergQualitySink)


def _frames_close(a: pd.DataFrame, b: pd.DataFrame, key: str) -> bool:
    """Same rows by ``key`` and, per column, values equal to a relative 1e-9."""
    if len(a) != len(b) or set(a.columns) != set(b.columns):
        return False
    a = a.sort_values(key).reset_index(drop=True)
    b = b.sort_values(key).reset_index(drop=True)[a.columns]
    for col in a.columns:
        if col == key:
            if not (a[col] == b[col]).all():
                return False
        elif not ((a[col] - b[col]).abs() <= 1e-9 * b[col].abs().clip(lower=1)).all():
            return False
    return True


class IntervalReport(Workload):
    """One ``app.run_evaluator`` over the table: three transformations,
    hourly intervals on ``ts``, IQR outliers and a markdown report."""

    name = "interval_report"
    root_span = "app.run_evaluator"

    def __init__(self, spark, inputs, work):
        super().__init__(spark, inputs, work)
        self.report_path = os.path.join(work, "report", "REPORT.md")
        self.config = {
            "source": {"file_path": inputs.table_path, "file_format": "parquet"},
            "transformations": {
                "n_chars": "length(text)",
                "is_user": "(role='user')::int",
                "has_tool": "(tool is not null)::int",
            },
            "date_column": "ts",
            "time_interval": "1h",
            "outliers": {"criterion": "IQR", "multiplier_iqr": 1.5,
                         "threshold_z_score": 3.0},
            "report_path": self.report_path,
        }
        self._captured = None
        self._install_capture()

    def _install_capture(self):
        """Keep the aggregate ``make_report`` receives, for ``check`` (one
        extra Python call per operation, in traced and untraced runs)."""
        from data_quality_automated_evaluator_spark import report

        orig = report.make_report

        def capture(aggregate, *args, **kwargs):
            self._captured = aggregate
            return orig(aggregate, *args, **kwargs)

        report.make_report = capture

    def warm_up(self):
        """One full operation, writing its report elsewhere."""
        from data_quality_automated_evaluator_spark.app import run_evaluator

        run_evaluator(self.spark, {**self.config,
                                   "report_path": os.path.join(self.work, "warmup", "REPORT.md")})

    def before_op(self, i):
        self._captured = None
        if os.path.exists(self.report_path):
            os.remove(self.report_path)

    def op(self, i):
        from data_quality_automated_evaluator_spark.app import run_evaluator

        return run_evaluator(self.spark, self.config)

    def check(self, i, out):
        errs = []
        if out != self.report_path or not os.path.getsize(self.report_path):
            errs.append(f"report not written (returned {out!r})")
        agg = self._captured
        expected = self.inputs.meta["turns"]  # no filter; ts is never null
        got = None if agg is None else int(agg[" __Number of values"].sum())
        if got != expected:
            errs.append(f"per-interval counts sum to {got}, filtered rows {expected}")
        return errs

    def new_turns(self, i):
        return self.inputs.meta["turns"]

    def trace(self, tracer):
        from data_quality_automated_evaluator_spark import app, report
        from data_quality_automated_evaluator_spark.operators import preprocess
        from data_quality_automated_evaluator_spark.sources import readers

        tracer.patch(app, "run_evaluator", "app.run_evaluator")
        tracer.patch(readers, "read_source", "sources.read_source")
        tracer.patch(preprocess, "make_preprocessing", "operators.make_preprocessing")
        tracer.patch(report, "make_report", "report.make_report")
        tracer.patch(report, "evaluate_data", "operators.evaluate_data")
        _trace_spark_actions(tracer)


WORKLOADS = {w.name: w for w in (Backfill, DailyIncrement, IntervalReport)}
