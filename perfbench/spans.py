"""Tracing for the benchmark's traced run, plus the process-tree RSS sampler.

Spans are opened by the harness around its calls into the program's public
functions; nothing inside the program is edited.  Each span tags the Spark
jobs started inside it with its own job group.  After an operation the
harness drains Spark's listener bus and reads each group's jobs and stages
back from the status store, which Spark keeps even with the UI disabled.

A span's counters are inclusive: they cover its own jobs and those of the
spans nested in it.  ``self_s`` is the span's wall time minus the wall time
of its direct children.
"""

from __future__ import annotations

import os
import statistics
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

# Per-layer metric names (the traced run prints exactly these).
STAGE_SPANS = [
    "runner.stage_vocab_embeddings",
    "runner.stage_mentions",
    "runner.stage_links",
    "runner.stage_graph",
    "runner.run_incremental",
]
LAYER_SPANS = [
    "vocab_prep.build_vocab_embeddings",
    "mentions.extract_mention_occurrences",
    "mentions.build_mention_table",
    "knn.build_vocab_index_files",
    "knn.link_mentions_file_index",
    "graph.build_edges",
    "graph.build_nodes",
]
COMMIT_SPANS = ["catalog.commit", "catalog.probe"]
ROWS_OUT_SPANS = [s for s in LAYER_SPANS if s != "knn.build_vocab_index_files"]
OP_QUERIES = [
    "graph_pagerank", "graph_label_prop", "graph_khop", "cc_components",
    "text_bpe_merges", "ann_knn_join", "ann_knn_join_shuffled", "ann_pq_topk",
    "ann_ivfpq_topk", "kg_sft_pairs", "text_tfidf_top_terms",
    "kg_mention_freqs_token_20k",
]
MEM_PARTS = ["driver", "jvm", "workers"]
RATIOS = {
    "knn.accept_ratio": ("ratio", "higher"),
    "knn.candidates_per_mention": ("count", "lower"),
    "knn.quarantine_rows": ("count", "lower"),
    "fold.jobs_per_fold": ("count", "lower"),
    "fold.links_noop_ratio": ("ratio", "higher"),
    "kernel.embed_us_per_text": ("us", "lower"),
    "kernel.rerank_us_per_mention": ("us", "lower"),
    "kernel.link_batch_us_per_mention": ("us", "lower"),
    "kernel.detect_us_per_turn": ("us", "lower"),
    "trace_overhead_frac": ("ratio", "lower"),
    **{f"mem.{p}_peak_mb": ("MB", "lower") for p in MEM_PARTS},
}
_UNITS = {
    "wall_s": ("s", "lower"), "self_s": ("s", "lower"), "cpu_s": ("s", "lower"),
    "gc_s": ("s", "lower"), "jobs": ("count", "lower"), "tasks": ("count", "lower"),
    "core_util": ("ratio", "higher"), "shuffle_mb": ("MB", "lower"),
    "rows_out": ("count", "lower"),
}


def per_layer_names() -> list[tuple[str, str, str]]:
    """(name, unit, better) for every per-layer metric, in output order."""
    names = []
    for s in STAGE_SPANS + LAYER_SPANS + COMMIT_SPANS:
        counters = ["wall_s", "jobs"]
        if s in STAGE_SPANS:  # other spans open no child spans: self == wall
            counters.insert(1, "self_s")
        if s not in COMMIT_SPANS:
            counters += ["tasks", "cpu_s"]
        if s in STAGE_SPANS:
            counters += ["core_util", "shuffle_mb"]
        if s in ROWS_OUT_SPANS:
            counters.append("rows_out")
        names += [(f"{s}.{c}", *_UNITS[c]) for c in counters]
    names += [
        (f"op.{c}", *_UNITS[c])
        for c in ["wall_s", "self_s", "jobs", "tasks", "cpu_s", "gc_s"]
    ]
    names += [(n, *ub) for n, ub in RATIOS.items()]
    for q in OP_QUERIES:
        names += [(f"ops.{q}.{c}", *_UNITS[c]) for c in ["wall_s", "jobs", "tasks"]]
    return names


_COUNTERS = ["jobs", "tasks", "run_ms", "cpu_ns", "gc_ms", "shuffle_bytes"]


@dataclass
class Span:
    name: str
    group: str
    parent: "Span | None"
    start: float
    end: float = 0.0
    children_s: float = 0.0
    rows_out: int = 0
    own: dict = field(default_factory=lambda: dict.fromkeys(_COUNTERS, 0))


class Tracer:
    """Opens spans, tags their Spark jobs, and folds status-store counters
    into per-name totals."""

    AUX_GROUP = "perfbench-aux"

    def __init__(self, spark, cores: int):
        self.sc = spark.sparkContext
        self._jsc = self.sc._jsc.sc()
        self._conv = self.sc._jvm.scala.jdk.javaapi.CollectionConverters
        self.cores = cores
        self.stack: list[Span] = []
        self.closed: list[Span] = []
        self.totals: dict[str, dict] = {}
        self._tracker = self.sc.statusTracker()
        self._n = 0
        self._seen_stages: set[int] = set()

    def _tag(self, group: str | None) -> None:
        self.sc.setLocalProperty("spark.jobGroup.id", group)

    @contextmanager
    def span(self, name: str):
        self._n += 1
        parent = self.stack[-1] if self.stack else None
        sp = Span(name, f"perfbench-{self._n}", parent, time.perf_counter())
        self.stack.append(sp)
        self._tag(sp.group)
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            self.stack.pop()
            self._tag(parent.group if parent else None)
            if parent is not None:
                parent.children_s += sp.end - sp.start
            self.closed.append(sp)

    def in_span(self, *names: str) -> bool:
        """Whether the innermost open span has one of ``names``."""
        return bool(self.stack) and self.stack[-1].name in names

    @contextmanager
    def aux(self):
        """Jobs the tracer itself runs (row counts) belong to no span."""
        self._tag(self.AUX_GROUP)
        try:
            yield
        finally:
            self._tag(self.stack[-1].group if self.stack else None)

    def collect(self) -> None:
        """Attribute every finished job to its span and fold the closed
        spans into the per-name totals."""
        self._jsc.listenerBus().waitUntilEmpty()
        store = self._jsc.statusStore()
        for sp in self.closed:
            for jid in self._tracker.getJobIdsForGroup(sp.group):
                sp.own["jobs"] += 1
                for sid in self._conv.asJava(store.job(jid).stageIds()):
                    if sid in self._seen_stages:  # a stage reused by a later job
                        continue
                    self._seen_stages.add(sid)
                    st = store.lastStageAttempt(sid)
                    sp.own["tasks"] += st.numCompleteTasks()
                    sp.own["run_ms"] += st.executorRunTime()
                    sp.own["cpu_ns"] += st.executorCpuTime()
                    sp.own["gc_ms"] += st.jvmGcTime()
                    sp.own["shuffle_bytes"] += st.shuffleReadBytes() + st.shuffleWriteBytes()
        for sp in self.closed:
            tot = self._total(sp.name)
            tot["wall_s"] += sp.end - sp.start
            tot["self_s"] += sp.end - sp.start - sp.children_s
            tot["rows_out"] += sp.rows_out
            node = sp
            while node is not None:  # inclusive: credit every ancestor
                t = self._total(node.name)
                for c in _COUNTERS:
                    t[c] += sp.own[c]
                node = node.parent
        self.closed = []

    def _total(self, name: str) -> dict:
        return self.totals.setdefault(
            name, {"wall_s": 0.0, "self_s": 0.0, "rows_out": 0,
                   **dict.fromkeys(_COUNTERS, 0)},
        )

    def metrics(self, n_ops: int) -> dict[str, float]:
        """Per-operation means of every span counter, keyed
        ``<span>.<counter>``."""
        out: dict[str, float] = {}
        n = max(n_ops, 1)
        for name, t in self.totals.items():
            wall = t["wall_s"]
            out.update({
                f"{name}.wall_s": wall / n,
                f"{name}.self_s": t["self_s"] / n,
                f"{name}.jobs": t["jobs"] / n,
                f"{name}.tasks": t["tasks"] / n,
                f"{name}.cpu_s": t["cpu_ns"] / 1e9 / n,
                f"{name}.gc_s": t["gc_ms"] / 1e3 / n,
                f"{name}.shuffle_mb": t["shuffle_bytes"] / 2**20 / n,
                f"{name}.rows_out": t["rows_out"] / n,
                f"{name}.core_util": (
                    t["run_ms"] / 1e3 / (wall * self.cores) if wall > 0 else 0.0
                ),
            })
        return out


@contextmanager
def patched(patches: list[tuple[object, str, object]]):
    """Temporarily replace module or class attributes:
    ``(owner, attribute, replacement)``."""
    saved = [(owner, attr, vars(owner)[attr]) for owner, attr, _ in patches]
    try:
        for owner, attr, new in patches:
            setattr(owner, attr, new)
        yield
    finally:
        for owner, attr, old in reversed(saved):
            setattr(owner, attr, old)


# ------------------------------------------------------------ memory
_PAGE = os.sysconf("SC_PAGE_SIZE")
RSS_INTERVAL_S = 0.1


def _tree_rss_bytes(root: int) -> dict[str, int]:
    """Resident bytes of ``root`` and its descendants, split into the
    Python driver (``root``), the JVM, and the Python workers.  Other
    descendants are transient helpers and are not counted."""
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        head, rest = stat.rsplit(")", 1)
        children.setdefault(int(rest.split()[1]), []).append((int(entry), head.split("(", 1)[1]))
    parts = dict.fromkeys(MEM_PARTS, 0)
    todo = [(root, "")]
    while todo:
        pid, comm = todo.pop()
        todo.extend(children.get(pid, []))
        if pid == root:
            part = "driver"
        elif comm == "java":
            part = "jvm"
        elif comm.startswith("python"):
            part = "workers"
        else:
            # a helper the JVM forks to run a shell command: until it execs
            # it shows the JVM's resident pages as its own
            continue
        try:
            with open(f"/proc/{pid}/statm") as f:
                parts[part] += int(f.read().split()[1]) * _PAGE
        except OSError:
            pass
    return parts


class RssSampler:
    """Samples the resident memory of this process and all its descendants
    (the JVM and its Python workers) every ``RSS_INTERVAL_S``, from
    ``/proc/<pid>/statm``, which is cheap to read even for a large JVM.
    Keeps the peak of the whole tree and the peak of each part."""

    def __init__(self):
        self.peak = 0
        self.part_peak = dict.fromkeys(MEM_PARTS, 0)
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        root = os.getpid()
        while True:
            parts = _tree_rss_bytes(root)
            self.peak = max(self.peak, sum(parts.values()))
            for k, v in parts.items():
                self.part_peak[k] = max(self.part_peak[k], v)
            if self._stop.wait(RSS_INTERVAL_S):
                return

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=10)

    @property
    def peak_mb(self) -> float:
        return self.peak / 2**20

    def part_metrics(self) -> dict[str, float]:
        return {f"mem.{k}_peak_mb": v / 2**20 for k, v in self.part_peak.items()}


def median(values: list[float]) -> float:
    return statistics.median(values) if values else 0.0
