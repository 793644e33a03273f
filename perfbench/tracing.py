"""Traced run: spans around crawlspark's public functions, Spark job
attribution, and replays of the lazy layers.

``Tracer.install`` wraps, for one crawl iteration:

- eager calls, timed as they run: ``WaveDriver.run_wave`` (``driver``
  ``wave`` span), ``WaveDriver.compact``, the driver's Observation
  read ``_obs_get`` (a job inside it is a fallback recompute),
  ``SnapshotStore.commit`` and ``SnapshotStore.read``/``read_split``;
- lazy calls, which only build a plan: ``politeness.schedule``,
  ``extract_pages``, ``normalize_vieclam24h`` and the ``dedup``
  classify, bloom probe, build and merge functions. Their ``.plan``
  spans measure plan building. Before the call, a ``.capture`` span
  materializes each DataFrame argument with an eager local checkpoint
  (a persisted copy would not do: the driver's own ``unpersist`` calls
  invalidate caches built on top of its frames).

After the crawl, ``Tracer.replay`` runs each captured lazy call again on
its checkpointed inputs into the noop sink; that span is the layer's
execution time. ``clean_to_text`` is replayed over the replayed
extraction output, the way the driver applies it. Capturing runs jobs
inside the traced waves; they count as tracing overhead, so per-wave
driver counts come from an untraced crawl (``Tracer.from_waves``).

Every span sets a Spark job group. A job is attributed to the span named
by its group, or, for jobs started from the commit thread pool (which
does not inherit the group), to the innermost span open when it was
submitted. Stage metrics come from Spark's status store.
"""

from __future__ import annotations

import json
import statistics
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from crawl import dir_stats

LAYERS = ("driver", "politeness", "extract", "clean", "normalize", "dedup",
          "tables")
COUNTERS = ("jobs", "stages", "shuffle_read_bytes", "shuffle_write_bytes",
            "spill_bytes", "task_cpu_s")
# replayed in their own right even when called from inside another
# captured call (classify_with_bloom calls both)
_REPLAY_NESTED = {"bloom_might_contain"}
# replays whose output is read again after the timed noop write
_COUNTED = {"extract_pages", "bloom_might_contain", "classify_with_bloom"}


@dataclass
class Span:
    sid: int
    name: str
    layer: str
    start: float
    parent: int | None
    wave: int | None
    end: float = 0.0
    meta: dict = field(default_factory=dict)

    @property
    def secs(self) -> float:
        return self.end - self.start


@dataclass
class Call:
    """A lazy layer call captured during the traced crawl."""
    name: str
    layer: str
    fn: object
    args: tuple
    kwargs: dict
    wave: int | None

    def frames(self) -> list[DataFrame]:
        return [a for a in (*self.args, *self.kwargs.values())
                if isinstance(a, DataFrame)]


def _checkpoint(value):
    if isinstance(value, DataFrame):
        return value.localCheckpoint(eager=True)
    return value


def _noop(df: DataFrame) -> None:
    df.write.mode("overwrite").format("noop").save()


class Tracer:
    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.spans: list[Span] = []
        self.calls: list[Call] = []
        self.wave: int | None = None
        self._stack: list[int] = []
        self._undo: list[tuple] = []
        self._capturing = 0
        self._group = f"perfbench-{id(self):x}"

    # -- spans ---------------------------------------------------------
    def _set_group(self) -> None:
        if self._stack:
            top = self.spans[self._stack[-1]]
            self.sc.setJobGroup(f"{self._group}-{top.sid}", top.name)
        else:
            self.sc.setJobGroup(None, None)

    @contextmanager
    def span(self, name: str, layer: str, **meta):
        sp = Span(len(self.spans), name, layer, time.time(),
                  self._stack[-1] if self._stack else None, self.wave,
                  meta=dict(meta))
        self.spans.append(sp)
        self._stack.append(sp.sid)
        self._set_group()
        try:
            yield sp
        finally:
            sp.end = time.time()
            self._stack.pop()
            self._set_group()

    # -- wrappers ------------------------------------------------------
    def _patch(self, owner, attr: str, wrap) -> None:
        orig = getattr(owner, attr)
        self._undo.append((owner, attr, orig))
        setattr(owner, attr, wrap(orig))

    def _eager(self, layer: str, name: str):
        def wrap(fn):
            def wrapper(*args, **kwargs):
                with self.span(name, layer):
                    return fn(*args, **kwargs)
            return wrapper
        return wrap

    def _lazy(self, layer: str, name: str):
        def wrap(fn):
            def wrapper(*args, **kwargs):
                if self._capturing and name not in _REPLAY_NESTED:
                    with self.span(f"{name}.plan", layer):
                        return fn(*args, **kwargs)
                with self.span(f"{name}.capture", layer):
                    call = Call(name, layer, fn,
                                tuple(_checkpoint(a) for a in args),
                                {k: _checkpoint(v) for k, v in kwargs.items()},
                                self.wave)
                with self.span(f"{name}.plan", layer):
                    self._capturing += 1
                    try:
                        out = fn(*args, **kwargs)
                    finally:
                        self._capturing -= 1
                self.calls.append(call)
                return out
            return wrapper
        return wrap

    def _wave(self, fn):
        def wrapper(drv, *args, **kwargs):
            self.wave = drv.store.latest_wave() + 1
            try:
                with self.span("wave", "driver"):
                    return fn(drv, *args, **kwargs)
            finally:
                self.wave = None
        return wrapper

    def _commit(self, fn):
        def wrapper(store, *args, **kwargs):
            files0, bytes0 = dir_stats(store.root / "data")
            with self.span("commit", "tables") as sp:
                sid = fn(store, *args, **kwargs)
            files1, bytes1 = dir_stats(store.root / "data")
            sp.meta.update(files=files1 - files0, bytes=bytes1 - bytes0,
                           manifest_bytes=(store.root / "_manifest.json")
                           .stat().st_size)
            return sid
        return wrapper

    def install(self) -> None:
        import crawlspark.dedup as D
        import crawlspark.driver as DR
        import crawlspark.politeness as P
        from crawlspark.tables import SnapshotStore

        self._patch(P, "schedule", self._lazy("politeness", "schedule"))
        self._patch(DR, "extract_pages", self._lazy("extract", "extract_pages"))
        # read by WaveDriver.__init__, so install before building the driver
        self._patch(DR, "normalize_vieclam24h",
                    self._lazy("normalize", "normalize_vieclam24h"))
        for name in ("classify_with_bloom", "classify", "bloom_might_contain",
                     "build_blooms", "merge_blooms"):
            self._patch(D, name, self._lazy("dedup", name))
        self._patch(DR, "_obs_get", self._eager("driver", "obs_get"))
        self._patch(DR.WaveDriver, "run_wave", self._wave)
        self._patch(DR.WaveDriver, "compact", self._eager("driver", "compact"))
        self._patch(SnapshotStore, "commit", self._commit)
        self._patch(SnapshotStore, "read", self._eager("tables", "read"))
        self._patch(SnapshotStore, "read_split", self._eager("tables", "read"))

    def uninstall(self) -> None:
        while self._undo:
            owner, attr, orig = self._undo.pop()
            setattr(owner, attr, orig)

    # -- replays -------------------------------------------------------
    def replay(self) -> None:
        """Re-run every captured lazy call on its checkpointed inputs into
        the noop sink. Run after ``uninstall``."""
        from crawlspark.clean import udfs as clean_udfs

        _, clean_to_text, _ = clean_udfs()
        for call in self.calls:
            self.wave = call.wave
            first = call.frames()[0]
            meta = {"rows_in": first.count()}
            if call.name == "extract_pages":
                meta["html_bytes_in"] = int(
                    first.agg(F.sum(F.length("html"))).first()[0] or 0)
            with self.span(f"{call.name}.replay", call.layer, **meta) as sp:
                out = call.fn(*call.args, **call.kwargs)
                if call.name in _COUNTED:
                    out.persist()
                _noop(out)
            if call.name == "extract_pages":
                with self.span("clean_to_text.replay", "clean"):
                    _noop(out.filter(F.col("depth") > 0).select(
                        clean_to_text(F.col("x.job_description"))))
            elif call.name == "bloom_might_contain":
                sp.meta["negatives"] = out.filter(~F.col("might_contain")).count()
            elif call.name == "classify_with_bloom":
                sp.meta["new"] = out.filter(F.col("status") == "NEW").count()
            if call.name in _COUNTED:
                out.unpersist()
            cand = getattr(out, "_bloom_cand", None)
            if cand is not None:
                cand.unpersist()
        self.wave = None

    # -- job attribution -----------------------------------------------
    def _status_json(self) -> tuple[list, list]:
        jvm = self.sc._jvm
        store = self.sc._jsc.sc().statusStore()
        mapper = jvm.com.fasterxml.jackson.databind.ObjectMapper()
        scala_module = getattr(jvm.com.fasterxml.jackson.module.scala,
                               "DefaultScalaModule$").__getattr__("MODULE$")
        mapper.registerModule(scala_module)
        no_quantiles = self.sc._gateway.new_array(jvm.double, 0)
        jobs = json.loads(mapper.writeValueAsString(store.jobsList(None)))
        stages = json.loads(mapper.writeValueAsString(
            store.stageList(None, False, False, no_quantiles, None)))
        return jobs, stages

    def _innermost(self, t: float) -> Span | None:
        open_spans = [sp for sp in self.spans if sp.start <= t <= sp.end]
        return max(open_spans, key=lambda sp: sp.start, default=None)

    def attribute(self) -> None:
        """Add job, stage, shuffle, spill and CPU counters to each span's
        meta (self counts: a job belongs to exactly one span)."""
        if not self.spans:
            return
        jobs, stages = self._status_json()
        ran: dict[int, dict] = {}
        for st in stages:
            if st["status"] == "SKIPPED":
                continue
            agg = ran.setdefault(st["stageId"], dict.fromkeys(COUNTERS[2:], 0))
            agg["shuffle_read_bytes"] += st["shuffleReadBytes"]
            agg["shuffle_write_bytes"] += st["shuffleWriteBytes"]
            agg["spill_bytes"] += st["memoryBytesSpilled"] + st["diskBytesSpilled"]
            agg["task_cpu_s"] += st["executorCpuTime"] / 1e9
        groups = {f"{self._group}-{sp.sid}": sp for sp in self.spans}
        t0 = self.spans[0].start
        claimed: set[int] = set()
        for job in sorted(jobs, key=lambda j: j["jobId"]):
            t = (job.get("submissionTime") or 0) / 1000
            if t < t0:
                continue
            sp = groups.get(job.get("jobGroup")) or self._innermost(t)
            if sp is None:
                continue
            m = sp.meta
            m["jobs"] = m.get("jobs", 0) + 1
            m["stages"] = m.get("stages", 0) + len(job["stageIds"])
            m["first_job_at"] = min(m.get("first_job_at", t), t)
            for sid in job["stageIds"]:
                if sid in ran and sid not in claimed:
                    claimed.add(sid)
                    for k, v in ran[sid].items():
                        m[k] = m.get(k, 0) + v

    # -- per-layer metrics -----------------------------------------------
    def _subtree(self, root: Span) -> list[Span]:
        kids: dict[int, list[Span]] = {}
        for sp in self.spans:
            if sp.parent is not None:
                kids.setdefault(sp.parent, []).append(sp)
        out, todo = [], [root]
        while todo:
            sp = todo.pop()
            out.append(sp)
            todo.extend(kids.get(sp.sid, ()))
        return out

    def per_layer(self) -> dict[str, float]:
        spans = self.spans

        def named(*names):
            return [sp for sp in spans if sp.name in names]

        def secs(*names):
            return sum(sp.secs for sp in named(*names))

        def total(key, sps):
            return sum(sp.meta.get(key, 0) for sp in sps)

        m: dict[str, float] = {}
        for layer in LAYERS:
            own = [sp for sp in spans if sp.layer == layer
                   and not sp.name.endswith(".capture")]
            for key in COUNTERS:
                m[f"{layer}.{key}"] = total(key, own)

        # less the capture of build_blooms' input that runs inside it
        m["driver.compact_s"] = sum(
            sp.secs - sum(c.secs for c in self._subtree(sp)
                          if c.name.endswith(".capture"))
            for sp in named("compact"))
        m["driver.obs_fallbacks"] = sum(
            1 for sp in named("obs_get") if sp.meta.get("jobs", 0))

        m["politeness.schedule_s"] = secs("schedule.replay")
        m["politeness.rows_in"] = total("rows_in", named("schedule.replay"))
        m["extract.s"] = secs("extract_pages.replay")
        m["extract.rows"] = total("rows_in", named("extract_pages.replay"))
        m["extract.html_bytes_in"] = total("html_bytes_in",
                                           named("extract_pages.replay"))
        m["clean.s"] = secs("clean_to_text.replay")
        m["normalize.s"] = secs("normalize_vieclam24h.replay")

        classify = named("classify_with_bloom.replay", "classify.replay")
        probes = named("bloom_might_contain.replay")
        m["dedup.classify_s"] = sum(sp.secs for sp in classify)
        m["dedup.candidates"] = total("rows_in", classify)
        m["dedup.bloom_probe_s"] = sum(sp.secs for sp in probes)
        m["dedup.bloom_maint_s"] = secs("build_blooms.replay",
                                        "merge_blooms.replay")
        probed = total("rows_in", probes)
        negatives = total("negatives", probes)
        m["dedup.bloom_negative_ratio"] = negatives / probed if probed else 0.0
        # a bloom hit that classify still calls NEW is a false positive
        new_after_probe = total("new", [
            sp for sp in named("classify_with_bloom.replay")
            if any(p.wave == sp.wave for p in probes)])
        hits = probed - negatives
        m["dedup.bloom_fp_ratio"] = (
            (new_after_probe - negatives) / hits if hits else 0.0)

        commits = named("commit")
        m["tables.commit_s"] = sum(sp.secs for sp in commits)
        m["tables.read_s"] = secs("read")
        m["tables.files_written"] = total("files", commits)
        m["tables.bytes_written"] = total("bytes", commits)
        m["tables.manifest_bytes"] = max(
            (sp.meta["manifest_bytes"] for sp in commits), default=0)
        return m

    def wave_metrics(self) -> dict[str, float]:
        """Per-wave driver numbers: plan building before the wave's first
        job, and the jobs and stages the whole wave ran (commit and
        compaction included)."""
        waves = [sp for sp in self.spans if sp.name == "wave"]
        if not waves:
            return dict.fromkeys(("driver.plan_s", "driver.jobs_per_wave",
                                  "driver.stages_per_wave"), 0.0)
        trees = [self._subtree(w) for w in waves]
        plan = [min((sp.meta["first_job_at"] for sp in tree
                     if "first_job_at" in sp.meta), default=w.end) - w.start
                for w, tree in zip(waves, trees)]
        return {
            "driver.plan_s": statistics.mean(plan),
            "driver.jobs_per_wave": statistics.mean(
                sum(sp.meta.get("jobs", 0) for sp in t) for t in trees),
            "driver.stages_per_wave": statistics.mean(
                sum(sp.meta.get("stages", 0) for sp in t) for t in trees),
        }

    @classmethod
    def from_waves(cls, spark, wave_times: list[tuple[float, float]]):
        """A tracer holding only the wave spans of an untraced crawl, for
        attributing its jobs by submission time."""
        tracer = cls(spark)
        tracer.spans = [Span(i, "wave", "driver", a, None, None, end=b)
                        for i, (a, b) in enumerate(wave_times)]
        return tracer

    def dump(self) -> list[dict]:
        return [{"sid": sp.sid, "name": sp.name, "layer": sp.layer,
                 "start": sp.start, "end": sp.end, "parent": sp.parent,
                 "wave": sp.wave, **sp.meta} for sp in self.spans]
