"""Span tracing from outside the program, for the traced run.

``Tracer.install()`` replaces each layer's public entry point, at the name
its caller looks it up by, with a wrapper that records a span (name,
start, end, parent) and gives the span its own Spark job group, so the
jobs, stages and tasks Spark ran for it can be read back from
``statusTracker()`` when the job ends. Spans stay in memory; a span's
self time is its duration minus the time its child spans cover.

Operators that return an unexecuted DataFrame are forced at the end of
their span (persist + count), so their work lands in their own span. The
tracer counts a few things the program does not return (IF rows fed to the
bootstrap, IRLS iterations, LSH candidates, propagation rounds); where that
needs an extra Spark action it runs in a ``trace.count`` child span, which
no layer is charged for.
"""

from __future__ import annotations

import inspect
import time
from collections import defaultdict
from contextlib import contextmanager

COUNT_SPAN = "trace.count"
ROOT_SPAN = "job"


class Tracer:
    def __init__(self, spark):
        self.spark = spark
        self.sc = spark.sparkContext
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self._seq = 0
        self._patches: list[tuple[object, str, object]] = []
        self._forced = []
        self.counts: dict[str, float] = defaultdict(float)
        self._fit_if_rows = 0
        self._candidates = None

    # -- spans ---------------------------------------------------------------
    def _inside(self, name: str) -> bool:
        return bool(self._stack) and self._stack[-1]["name"] == name

    @contextmanager
    def span(self, name: str):
        self._seq += 1
        parent = self._stack[-1] if self._stack else None
        rec = {"id": self._seq, "name": name, "parent": parent and parent["id"],
               "group": f"perfbench-{self._seq}"}
        self._stack.append(rec)
        self.sc.setJobGroup(rec["group"], name)
        rec["start"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            if parent is not None:
                self.sc.setJobGroup(parent["group"], parent["name"])
            else:
                self.sc._jsc.clearJobGroup()
            self.spans.append(rec)

    def _spark_counts(self, group: str) -> dict:
        st = self.sc.statusTracker()
        jobs = st.getJobIdsForGroup(group)
        stages = tasks = failed = 0
        for jid in jobs:
            info = st.getJobInfo(jid)
            for sid in info.stageIds if info else ():
                s = st.getStageInfo(sid)
                if s is None or s.numCompletedTasks + s.numFailedTasks == 0:
                    continue  # skipped: its output was reused
                stages += 1
                tasks += s.numCompletedTasks + s.numFailedTasks
                failed += s.numFailedTasks
        return {"jobs": len(jobs), "stages": stages, "tasks": tasks, "failed_tasks": failed}

    # -- wrapping ------------------------------------------------------------
    def _patch(self, owner, attr: str, make):
        orig = getattr(owner, attr)
        self._patches.append((owner, attr, orig))
        setattr(owner, attr, make(orig))

    def install(self) -> None:
        import workloads
        from csdid_pyspark_spark.did import aggte_ops, attgt, kernels, linalg
        from csdid_pyspark_spark.operators import dedup
        from csdid_pyspark_spark.sources import tables

        df_cls = type(self.spark.range(1))
        self._patch(tables, "load_table", self._forced_span("sources.scan", "sources.scan_rows"))
        self._patch(attgt, "preprocess_did", self._plain_span("did.preprocess"))
        self._patch(attgt, "estimate_panel", self._estimate_panel)
        self._patch(kernels, "irls_logit", self._plain_span("did.linalg.irls"))
        self._patch(linalg, "consts_df", self._counter("did.linalg.irls", "did.linalg.irls.iters"))
        self._patch(attgt, "mboot", self._mboot)
        self._patch(aggte_ops, "mboot", self._mboot)
        self._patch(attgt.ATTgt, "fit", self._plain_span("did.fit"))
        self._patch(attgt.ATTgt, "compute_aggte", self._aggte)
        self._patch(attgt.ATTgt, "pretrend_test", self._plain_span("did.pretrend"))
        self._patch(dedup, "minhash_lsh_pairs", self._lsh)
        self._patch(dedup, "components", self._forced_span("dedup.components", "dedup.components.nodes"))
        self._patch(df_cls, "localCheckpoint", self._counter("dedup.components", "dedup.components.checkpoints"))
        self._patch(df_cls, "distinct", self._capture_candidates)
        self._patch(workloads, "write_keep_list", self._plain_span("dedup.keep"))

    def uninstall(self) -> None:
        while self._patches:
            owner, attr, orig = self._patches.pop()
            setattr(owner, attr, orig)

    def _plain_span(self, name):
        def make(orig):
            def wrapper(*a, **kw):
                with self.span(name):
                    return orig(*a, **kw)
            return wrapper
        return make

    def _forced_span(self, name, rows_key):
        def make(orig):
            def wrapper(*a, **kw):
                with self.span(name):
                    out = orig(*a, **kw).persist()
                    self.counts[rows_key] += out.count()
                self._forced.append(out)
                return out
            return wrapper
        return make

    def _counter(self, span_name, key):
        def make(orig):
            def wrapper(*a, **kw):
                if self._inside(span_name):
                    self.counts[key] += 1
                return orig(*a, **kw)
            return wrapper
        return make

    def _estimate_panel(self, orig):
        def wrapper(cell_df, *a, **kw):
            with self.span("did.cells"):
                self.counts["did.cells.rows"] += cell_df.count()
            with self.span("did.kernels"):
                ests, if_raw = orig(cell_df, *a, **kw)
            self._fit_if_rows = sum(e.n1 for e in ests if not e.skipped)
            self.counts["did.fit.if_rows"] += self._fit_if_rows
            return ests, if_raw
        return wrapper

    def _mboot(self, orig):
        sig = inspect.signature(orig)

        def wrapper(*a, **kw):
            bound = sig.bind(*a, **kw)
            bound.apply_defaults()
            with self.span(COUNT_SPAN):
                rows = bound.arguments["if_df"].count()
            self.counts["did.mboot.calls"] += 1
            self.counts["did.mboot.sign_evals"] += rows * bound.arguments["biters"]
            with self.span("did.mboot"):
                return orig(*a, **kw)
        return wrapper

    def _aggte(self, orig):
        def wrapper(est, *a, **kw):
            self.counts["did.aggte.if_rows"] += self._fit_if_rows
            with self.span("did.aggte"):
                return orig(est, *a, **kw)
        return wrapper

    def _capture_candidates(self, orig):
        def wrapper(df, *a, **kw):
            out = orig(df, *a, **kw)
            if self._inside("dedup.lsh") and out.columns == ["id_a", "id_b"]:
                self._candidates = out
            return out
        return wrapper

    def _lsh(self, orig):
        def wrapper(*a, **kw):
            self._candidates = None
            with self.span("dedup.lsh"):
                out = orig(*a, **kw).persist()
                self.counts["dedup.lsh.verified"] += out.count()
                if self._candidates is not None:
                    with self.span(COUNT_SPAN):
                        self.counts["dedup.lsh.candidates"] += self._candidates.count()
            self._forced.append(out)
            return out
        return wrapper

    # -- one traced job --------------------------------------------------------
    def run_job(self, job, *args) -> tuple[object, float, dict]:
        """Run ``job`` under a root span; return its output, wall seconds and
        per-layer metrics. Forced frames are released after the job."""
        self.spans, self.counts, self._forced = [], defaultdict(float), []
        with self.span(ROOT_SPAN) as root:
            out = job(*args)
            for df in self._forced:
                df.unpersist()
        wall = root["end"] - root["start"]
        return out, wall, self._layer_metrics(root, wall)

    def _layer_metrics(self, root: dict, wall: float) -> dict:
        child_time = defaultdict(float)
        for s in self.spans:
            if s["parent"] is not None:
                child_time[s["parent"]] += s["end"] - s["start"]
        selfs = defaultdict(float)
        spark = defaultdict(lambda: defaultdict(int))
        top = 0.0
        for s in self.spans:
            dur = s["end"] - s["start"]
            if s["parent"] == root["id"]:
                top += dur
            if s["name"] == ROOT_SPAN:
                continue
            selfs[s["name"]] += dur - child_time[s["id"]]
            for k, v in self._spark_counts(s["group"]).items():
                spark[s["name"]][k] += v
        out = {"trace.coverage": top / wall if wall else 0.0}
        for name, v in selfs.items():
            out[f"{name}.self_s"] = v
        for name, counts in spark.items():
            for k, v in counts.items():
                out[f"{name}.{k}"] = v
        out.update(self.counts)
        return out
