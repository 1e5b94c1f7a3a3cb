"""Per-layer recording for the traced run.

Nothing here edits the package: the tracer wraps calls from outside
(``TableStore`` methods, patched on the class for the duration of the
measured work) and reads what the program and Spark already expose —
the status tracker, an event log switched on only for the traced run,
and Spark's Python UDF profiler (``spark.sql.pyspark.udf.profiler=perf``).

Work is cut into *windows* (``bootstrap``, ``round 0``, ...): the
workload opens each with ``begin`` and closes it with the next
``begin`` or ``end``, and every counter is attributed to the window it
fell in. ``write_spans`` dumps the windows
with their counters; the workload folds them into the per-layer metrics.
"""

from __future__ import annotations

import glob
import json
import os
import threading
import time

# Profiled UDF → layer, keyed by (file, function) of the outermost
# package frame in the profile (the UDF body Spark wrapped).
UDF_LABELS = {
    ("canon.py", "canonicalize_udf"): "canonicalize",
    ("loop.py", "prio"): "priority",
    ("seen.py", "build"): "bloom_build",
    ("seen.py", "merge"): "bloom_build",
    ("seen.py", "flag_fn"): "bloom_probe",
    ("fetch.py", "fetch_partition"): "fetch",
    ("fetch.py", "build"): "image",
    ("neardup.py", "build"): "neardup",
    ("neardup.py", "flag"): "neardup",
}
UDF_LAYERS = ["canonicalize", "priority", "bloom_build", "bloom_probe", "fetch",
              "image", "neardup", "other"]
# frames that block on the JVM for the UDF's input, not UDF work
_INPUT_WAIT = ("readinto", "read_next_batch", "recv_into", "_read_with_length")

_TABLE_COUNTERS = ("manifest_loads", "manifest_bytes", "appends", "append_s",
                   "overwrites", "overwrite_s")


class Tracer:
    def __init__(self, enabled: bool, workdir: str):
        self.enabled = enabled
        self.eventlog_dir = os.path.join(workdir, "eventlog")
        self.windows: list[dict] = []
        self._lock = threading.Lock()
        self._tables = dict.fromkeys(_TABLE_COUNTERS, 0)
        self._patched: list[tuple[type, str, object]] = []
        self._spark = None
        self._seen_jobs: set[int] = set()
        self._pkg_files: set[str] = set()
        self.udf_frames: dict[str, float] = {}
        self._open: dict | None = None

    # ------------------------------------------------------------ set-up
    def spark_conf(self) -> dict[str, str]:
        if not self.enabled:
            return {}
        os.makedirs(self.eventlog_dir, exist_ok=True)
        return {
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": self.eventlog_dir,
            "spark.eventLog.compress": "false",
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
            "spark.sql.pyspark.udf.profiler": "perf",
        }

    def attach(self, spark) -> None:
        if not self.enabled:
            return
        import pyspider_spark
        from pyspider_spark.tables import TableStore

        self._spark = spark
        pkg = os.path.dirname(pyspider_spark.__file__)
        self._pkg_files = {
            os.path.basename(p) for p in glob.glob(os.path.join(pkg, "**", "*.py"), recursive=True)
        }
        self._seen_jobs = set(spark.sparkContext.statusTracker().getJobIdsForGroup())
        # profiles from the warm-up are not the workload's
        spark.profile.clear(type="perf")
        tracer = self

        def wrap_load(orig):
            def _load_manifest(store, name):
                p = store._manifest_path(name)
                size = os.path.getsize(p) if os.path.exists(p) else 0
                with tracer._lock:
                    tracer._tables["manifest_loads"] += 1
                    tracer._tables["manifest_bytes"] += size
                return orig(store, name)
            return _load_manifest

        def wrap_write(orig, count_key, time_key):
            def write(store, *a, **kw):
                t = time.perf_counter()
                try:
                    return orig(store, *a, **kw)
                finally:
                    with tracer._lock:
                        tracer._tables[count_key] += 1
                        tracer._tables[time_key] += time.perf_counter() - t
            return write

        wrappers = {
            "_load_manifest": wrap_load,
            "append": lambda o: wrap_write(o, "appends", "append_s"),
            "append_rows": lambda o: wrap_write(o, "appends", "append_s"),
            "overwrite": lambda o: wrap_write(o, "overwrites", "overwrite_s"),
            "overwrite_rows": lambda o: wrap_write(o, "overwrites", "overwrite_s"),
        }
        for attr, make in wrappers.items():
            orig = TableStore.__dict__[attr]
            self._patched.append((TableStore, attr, orig))
            setattr(TableStore, attr, make(orig))

    def detach(self) -> None:
        for cls, attr, orig in reversed(self._patched):
            setattr(cls, attr, orig)
        self._patched = []

    # ------------------------------------------------------------ windows
    def begin(self, label: str, **attrs) -> None:
        """Close the open window, if any, and open ``label``: everything
        until the next ``begin``/``end`` is attributed to it."""
        self.end()
        if not self.enabled:
            return
        with self._lock:
            before = dict(self._tables)
        self._open = {
            "rec": {"label": label, **attrs, "start_ms": time.time() * 1000.0},
            "tables": before,
            "udf": self._udf_totals(),
            "t": time.perf_counter(),
        }

    def end(self, **attrs) -> None:
        """Close the open window, adding ``attrs`` to its record."""
        if self._open is None:
            return
        o, self._open = self._open, None
        rec = o["rec"]
        rec["wall_s"] = time.perf_counter() - o["t"]
        rec["end_ms"] = time.time() * 1000.0
        with self._lock:
            rec.update({k: self._tables[k] - o["tables"][k] for k in _TABLE_COUNTERS})
        udf = self._udf_totals()
        rec["udf_s"] = {k: udf[k] - o["udf"][k] for k in UDF_LAYERS}
        rec.update(self._new_jobs(), **attrs)
        self.windows.append(rec)

    def _new_jobs(self) -> dict:
        st = self._spark.sparkContext.statusTracker()
        ids = set(st.getJobIdsForGroup()) - self._seen_jobs
        self._seen_jobs |= ids
        stages = tasks = 0
        for j in ids:
            info = st.getJobInfo(j)
            for s in (info.stageIds if info else []):
                si = st.getStageInfo(s)
                if si is not None and si.numCompletedTasks > 0:
                    stages += 1
                    tasks += si.numCompletedTasks
        return {"jobs": len(ids), "stages": stages, "tasks": tasks}

    def _udf_totals(self) -> dict[str, float]:
        """Cumulative Python UDF seconds per layer so far in this session."""
        out = dict.fromkeys(UDF_LAYERS, 0.0)
        collector = getattr(self._spark, "_profiler_collector", None)
        if collector is None:
            return out
        for st in collector._perf_profile_results.values():
            top, top_ct, wait = None, -1.0, 0.0
            for (file, _line, func), (_cc, _nc, tt, ct, _callers) in st.stats.items():
                if file in self._pkg_files and ct > top_ct:
                    top, top_ct = (file, func), ct
                if any(w in func for w in _INPUT_WAIT):
                    wait += tt
            label = UDF_LABELS.get(top, "other")
            out[label] += max(0.0, st.total_tt - wait)
            self.udf_frames[f"{top} -> {label}"] = st.total_tt
        return out

    # ------------------------------------------------------------ finish
    def fold_event_log(self) -> None:
        """Fold task metrics from the event log (written out when the
        session stops) into the windows, by task finish time."""
        keys = ("task_s", "gc_s", "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes")
        for w in self.windows:
            w.update(dict.fromkeys(keys, 0.0))
        for path in sorted(glob.glob(os.path.join(self.eventlog_dir, "**"), recursive=True)):
            if not os.path.isfile(path):
                continue
            with open(path) as f:
                for line in f:
                    if '"SparkListenerTaskEnd"' not in line:
                        continue
                    ev = json.loads(line)
                    m = ev.get("Task Metrics") or {}
                    fin = ev["Task Info"]["Finish Time"]
                    w = self._window_at(fin)
                    if w is None:
                        continue
                    rd = m.get("Shuffle Read Metrics") or {}
                    wr = m.get("Shuffle Write Metrics") or {}
                    w["task_s"] += m.get("Executor Run Time", 0) / 1000.0
                    w["gc_s"] += m.get("JVM GC Time", 0) / 1000.0
                    w["shuffle_read_bytes"] += rd.get("Remote Bytes Read", 0) + rd.get("Local Bytes Read", 0)
                    w["shuffle_write_bytes"] += wr.get("Shuffle Bytes Written", 0)
                    w["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)

    def _window_at(self, t_ms: float):
        for w in self.windows:
            if w["start_ms"] <= t_ms <= w["end_ms"] + 1:
                return w
        return None

    def write_spans(self, path: str, layer: dict) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump({"layer": layer, "windows": self.windows, "udf_frames": self.udf_frames},
                      f, indent=1, sort_keys=True)
