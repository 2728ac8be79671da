"""Layer spans, Spark stage metrics and process-tree memory, all observed
from outside the package.

A span is a Spark job group named after a layer: every job submitted while
it is open is tagged with the layer, and after the run the status store's
per-stage metrics are folded per layer.  The untraced runs use
``NullTracer``, which sets no job group at all.
"""

from __future__ import annotations

import os
import threading
import time

LAYERS = [
    "session", "network", "attributes", "index", "export",
    "pages.extract", "pages.pip", "pages.knn",
    "curate.gate", "curate.exact", "curate.near", "curate.write",
]
LAYER_METRICS = [
    ("wall_s", "s"), ("stages", "count"), ("tasks", "count"), ("cpu_s", "s"),
    ("gc_s", "s"), ("shuffle_write_mb", "MB"), ("spill_mb", "MB"), ("rows_out", "count"),
]
RATIOS = [("pages.knn.matched_frac", "ratio"), ("curate.near.kept_frac", "ratio")]
_MB = float(1 << 20)


class NullTracer:
    """The untraced run: spans cost nothing and set no job group."""

    traced = False

    def __init__(self) -> None:
        self.rows: dict[str, int] = {}

    def enter(self, layer: str) -> None:
        pass

    def close(self) -> None:
        pass

    def add_rows(self, layer: str, n: int) -> None:
        self.rows[layer] = self.rows.get(layer, 0) + int(n)


class Tracer(NullTracer):
    """Consecutive spans: ``enter`` closes the open span and opens the next,
    so the spans of a timed region partition its wall time."""

    traced = True

    def __init__(self, spark) -> None:
        super().__init__()
        self.sc = spark.sparkContext
        self.wall: dict[str, float] = {}
        self._open: tuple[str, float] | None = None

    def enter(self, layer: str) -> None:
        self.close()
        self.sc.setJobGroup(layer, layer)
        self._open = (layer, time.perf_counter())

    def close(self) -> None:
        if self._open is not None:
            layer, t0 = self._open
            self.wall[layer] = self.wall.get(layer, 0.0) + time.perf_counter() - t0
            self._open = None
            self.sc.setLocalProperty("spark.jobGroup.id", None)

    def stage_metrics(self) -> dict[str, dict[str, float]]:
        """Per-layer sums over every stage that ran tasks in a job of the
        layer's group (a stage shared by two jobs counts once)."""
        jsc = self.sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        store = jsc.statusStore()
        jobs = store.jobsList(None)
        seen: set[int] = set()
        out: dict[str, dict[str, float]] = {}
        for k in sorted(range(jobs.length()), key=lambda k: jobs.apply(k).jobId()):
            job = jobs.apply(k)
            group = job.jobGroup()
            if not group.isDefined() or group.get() not in LAYERS:
                continue
            acc = out.setdefault(group.get(), dict.fromkeys(
                ["stages", "tasks", "cpu_s", "gc_s", "shuffle_write_mb", "spill_mb"], 0.0))
            ids = job.stageIds().mkString(",")
            for sid in (int(s) for s in ids.split(",") if s):
                if sid in seen:
                    continue
                st = store.lastStageAttempt(sid)
                if st.numCompleteTasks() == 0:
                    continue  # skipped: its shuffle output was reused
                seen.add(sid)
                acc["stages"] += 1
                acc["tasks"] += st.numCompleteTasks()
                acc["cpu_s"] += st.executorCpuTime() / 1e9
                acc["gc_s"] += st.jvmGcTime() / 1e3
                acc["shuffle_write_mb"] += st.shuffleWriteBytes() / _MB
                acc["spill_mb"] += st.diskBytesSpilled() / _MB
        return out


def layer_table(tracer: Tracer, stage: dict, ratios: dict[str, float]) -> dict[str, dict]:
    """Every per-layer metric; layers the workload did not touch read 0."""
    metrics: dict[str, dict] = {}
    for layer in LAYERS:
        row = dict(stage.get(layer, {}))
        row["wall_s"] = tracer.wall.get(layer, 0.0)
        row["rows_out"] = tracer.rows.get(layer, 0)
        for name, unit in LAYER_METRICS:
            metrics[f"{layer}.{name}"] = {"value": round(float(row.get(name, 0.0)), 6), "unit": unit}
    for name, unit in RATIOS:
        metrics[name] = {"value": round(float(ratios.get(name, 0.0)), 6), "unit": unit}
    return metrics


def format_table(metrics: dict[str, dict]) -> str:
    cols = [m for m, _ in LAYER_METRICS]
    lines = ["layer".ljust(15) + "".join(c.rjust(17) for c in cols)]
    for layer in LAYERS:
        vals = [metrics[f"{layer}.{c}"]["value"] for c in cols]
        if not any(vals):
            continue
        lines.append(layer.ljust(15) + "".join(f"{v:17.3f}" for v in vals))
    for name, _ in RATIOS:
        lines.append(f"{name} = {metrics[name]['value']:.4f}")
    return "\n".join(lines)


# ---------------------------------------------------------------------------
# peak resident memory (PSS) of this process and all its descendants
# ---------------------------------------------------------------------------

def _tree_rss_bytes(root: int) -> int:
    parent: dict[int, int] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue  # exited while scanning
        # the command name may contain spaces: fields start after ')'
        parent[int(entry)] = int(stat.rsplit(")", 1)[1].split()[1])
    tree, frontier = {root}, [root]
    children: dict[int, list[int]] = {}
    for pid, ppid in parent.items():
        children.setdefault(ppid, []).append(pid)
    while frontier:
        for c in children.get(frontier.pop(), []):
            if c not in tree:
                tree.add(c)
                frontier.append(c)
    total = 0
    for pid in tree:
        try:
            with open(f"/proc/{pid}/smaps_rollup") as fh:
                for line in fh:
                    if line.startswith("Pss:"):
                        total += int(line.split()[1]) * 1024
                        break
        except OSError:
            continue
    return total


class RssSampler:
    """Samples the summed PSS of the process tree every ``interval`` s on a
    daemon thread; ``peak_mb`` is the largest sample."""

    def __init__(self, interval: float = 0.2) -> None:
        self.interval = interval
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        root = os.getpid()
        while True:
            self.peak = max(self.peak, _tree_rss_bytes(root))
            if self._stop.wait(self.interval):
                return

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
        self.peak = max(self.peak, _tree_rss_bytes(os.getpid()))

    @property
    def peak_mb(self) -> float:
        return self.peak / _MB
