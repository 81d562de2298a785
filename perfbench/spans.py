"""Span recorder for the traced run (``--trace 1``).

Spans are recorded from the benchmark's own files: the benchmark wraps
its own calls into each layer (``get_spark``, ``Query.fn``, the noop
save, ...) in ``Tracer.span``, and ``Tracer.wrap`` replaces a layer's
public function or method for the duration of the run so that calls the
engine makes internally (``load_table`` from an operator,
``smote_oversample`` from the training loop, ``upsert_batch`` from the
streaming sink) are recorded too. Nothing in the engine is edited.

Per span: name, start, end, parent span, thread, and the py4j commands
the span's thread sent while it was open. Spans opened with
``jobs=True`` also run their Spark work under a job group of their own,
so the Spark jobs and tasks of each span are read back from
``statusTracker()`` when the run ends. Spans stay in memory and are
written out once, by ``dump``.

Bookkeeping (job-group switches, py4j counting, status reads) is timed
and reported as ``bookkeeping_s``, and its own py4j commands are not
counted.
"""

from __future__ import annotations

import contextlib
import functools
import itertools
import json
import sys
import threading
import time
from collections import defaultdict

_GROUP = "spark.jobGroup.id"


class Tracer:
    def __init__(self) -> None:
        self.spans: list[dict] = []
        self.bookkeeping_s = 0.0
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._lock = threading.Lock()
        self._patches: list[tuple[object, str, object, bool]] = []
        self._sc = None
        self._py4j: dict[int, int] = defaultdict(int)
        self._py4j_client = None

    # ------------------------------------------------------------ attach
    def attach(self, spark) -> None:
        """Bind to the (possibly re-created) session: job groups and
        the py4j counter need its SparkContext and gateway."""
        self._sc = spark.sparkContext
        client = self._sc._gateway._gateway_client
        if self._py4j_client is client:
            return
        self._py4j_client = client
        send = client.send_command
        counts, local = self._py4j, self._local

        def counted(*args, **kwargs):
            if not getattr(local, "quiet", False):
                counts[threading.get_ident()] += 1
            return send(*args, **kwargs)

        client.send_command = counted

    def py4j_calls(self) -> int:
        return self._py4j[threading.get_ident()]

    # ------------------------------------------------------------- spans
    def _stack(self) -> list[dict]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    @contextlib.contextmanager
    def _quiet(self):
        t0 = time.perf_counter()
        self._local.quiet = True
        try:
            yield
        finally:
            self._local.quiet = False
            with self._lock:  # spans also close on server and worker threads
                self.bookkeeping_s += time.perf_counter() - t0

    @contextlib.contextmanager
    def span(self, name: str, jobs: bool = False, **attrs):
        stack = self._stack()
        sp = {
            "id": next(self._ids),
            "name": name,
            "parent": stack[-1]["id"] if stack else None,
            "thread": threading.get_ident(),
            **attrs,
        }
        prev_group = None
        if jobs and self._sc is not None:
            with self._quiet():
                prev_group = self._sc.getLocalProperty(_GROUP)
                sp["group"] = f"perfbench-{sp['id']}"
                self._sc.setLocalProperty(_GROUP, sp["group"])
        stack.append(sp)
        p0 = self.py4j_calls()
        sp["start"] = time.perf_counter()
        try:
            yield sp
        finally:
            sp["end"] = time.perf_counter()
            sp["py4j"] = self.py4j_calls() - p0
            stack.pop()
            if "group" in sp:
                with self._quiet():
                    self._sc.setLocalProperty(_GROUP, prev_group)
            with self._lock:
                self.spans.append(sp)

    def wrap(self, owner, attr: str, name: str, jobs: bool = False, on_exit=None) -> None:
        """Replace ``owner.attr`` by a spanned twin until ``unwrap``.
        ``on_exit(span, args, kwargs, result)``, called after the span
        has closed, may annotate it."""
        orig = getattr(owner, attr)
        own = attr in vars(owner)
        tracer = self

        @functools.wraps(orig)
        def spanned(*args, **kwargs):
            with tracer.span(name, jobs=jobs) as sp:
                out = orig(*args, **kwargs)
            if on_exit is not None:
                with tracer._quiet():
                    on_exit(sp, args, kwargs, out)
            return out

        setattr(owner, attr, spanned)
        self._patches.append((owner, attr, orig, own))

    def wrap_everywhere(self, fn, name: str, jobs: bool = False, on_exit=None) -> None:
        """Wrap every module-level binding of ``fn`` in the engine, so
        that callers which imported it by name are traced too."""
        for mod in list(sys.modules.values()):
            if getattr(mod, "__name__", "").startswith("fraud_detection_spark"):
                for attr, val in list(vars(mod).items()):
                    if val is fn:
                        self.wrap(mod, attr, name, jobs=jobs, on_exit=on_exit)

    def unwrap(self) -> None:
        for owner, attr, orig, own in reversed(self._patches):
            if own:
                setattr(owner, attr, orig)
            else:
                delattr(owner, attr)
        self._patches.clear()

    # ----------------------------------------------------------- results
    def resolve_jobs(self) -> None:
        """Fill ``jobs``/``tasks``/``input_records`` for every span that
        ran under its own job group. Call while the session is alive,
        after the spans' work has finished."""
        if self._sc is None:
            return
        with self._quiet():
            jsc = self._sc._jsc.sc()
            jsc.listenerBus().waitUntilEmpty(10_000)
            store = jsc.statusStore()
            st = self._sc.statusTracker()
            for sp in self.snapshot():
                if "group" not in sp or "jobs" in sp:
                    continue
                job_ids = st.getJobIdsForGroup(sp["group"])
                tasks = records = 0
                for j in job_ids:
                    info = st.getJobInfo(j)
                    for s in info.stageIds if info else ():
                        stage = store.lastStageAttempt(s)
                        tasks += stage.numCompleteTasks()
                        records += stage.inputRecords()
                sp["jobs"], sp["tasks"], sp["input_records"] = len(job_ids), tasks, records

    def snapshot(self) -> list[dict]:
        """The spans closed so far; spans may still close on other
        threads while the results are read."""
        with self._lock:
            return list(self.spans)

    def self_times(self, spans: list[dict]) -> dict[int, float]:
        """Span id -> duration minus the time its child spans cover
        (children run on the parent's thread, nested, so they never
        overlap each other), for ``spans``."""
        kids: dict[int, list[dict]] = defaultdict(list)
        for sp in spans:
            if sp["parent"] is not None:
                kids[sp["parent"]].append(sp)
        return {
            sp["id"]: (sp["end"] - sp["start"])
            - sum(c["end"] - c["start"] for c in kids.get(sp["id"], ()))
            for sp in spans
        }

    def named(self, name: str) -> list[dict]:
        return [sp for sp in self.snapshot() if sp["name"] == name]

    def dump(self, path: str) -> None:
        spans = self.snapshot()
        selfs = self.self_times(spans)
        with open(path, "w") as f:
            for sp in sorted(spans, key=lambda s: s["start"]):
                f.write(json.dumps({**sp, "self": selfs[sp["id"]]}, default=str) + "\n")
