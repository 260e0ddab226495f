"""The three workloads.  Each is a closed loop with one client: the next
request goes out when the previous one returns, with no think time.

A workload runs as ``setup`` (timed into ``setup_s``), then one
measured pass (untraced), and in a traced run a second, traced pass;
the difference between the two passes is the tracing overhead.
Responses are checked against the oracle after the passes.
"""

from __future__ import annotations

import collections
import itertools
import json
import os
import random
import shutil
import sys
import traceback
from typing import Iterator

from elasticsearch_spark.functions.tokenizer import is_boolean_query
from elasticsearch_spark.operators.build import IndexBuilder
from elasticsearch_spark.operators.multifield import MultiMatchWand
from elasticsearch_spark.operators.query import QueryEngine
from elasticsearch_spark.operators.reader import live_docs
from elasticsearch_spark.operators.wand import WandEngine

from perfbench import check, inputs
from perfbench import common as C
from perfbench.trace import SparkWork, Tracer, patched

SETUP_REPS = 3
# Free-text shares per entry point.  No traffic source exists for them:
# they are an assumption, with most traffic on the default ``ranked``
# path.  Each run prints the mix it actually sent.
HOT_MIX = (("ranked", 0.7), ("wand", 0.2), ("mm", 0.1))
PLAN_MIX = (("ranked", 1.0),)
BATCH_CALLS = 3           # ingest batch_ranked calls per index generation
CHECK_SHARE = 0.1         # seeded share of stream responses checked


class Run:
    """Per-run state shared by the workloads."""

    def __init__(self, workload: str, seed: int, seconds: float, trace: bool):
        self.workload, self.seed, self.seconds, self.trace = workload, seed, seconds, trace
        self.attempted = self.failed = 0
        self.report: dict = {}   # end-to-end figures (all, incl. ungated)
        self.layers: dict = {}   # per-layer figures (traced runs)
        self.detail: dict = {}   # everything else written to the result file
        self.tracer = Tracer(False)
        self.work = None

    def op(self, fn, *args, **kw):
        """One attempted operation; an exception counts as a failure."""
        self.attempted += 1
        try:
            return fn(*args, **kw)
        except Exception as e:  # a failed operation is a result, not the end of the run
            self.failed += 1
            self.detail.setdefault("errors", []).append(repr(e)[:300])
            traceback.print_exc(file=sys.stderr)
            return None

    def verdict(self, ok: bool) -> None:
        if not ok:
            self.failed += 1

    def call(self, span: str, fn, *args, **kw):
        """``fn`` under a span and a job group when tracing."""
        if not self.tracer.enabled:
            return fn(*args, **kw)
        with self.tracer.span(span), self.work.group(span):
            return fn(*args, **kw)


def _stream(seed: int, queries: list, mix) -> Iterator[tuple]:
    """Endless seeded request stream.  Queries are drawn uniformly from
    the reference set, which is balanced across its ten templates (its
    own ``distribution_strategy``); no query log ranks them.  Boolean
    queries go to the boolean path, free-text ones to the ``mix``
    shares."""
    rng = random.Random(seed)
    boolean = {q: is_boolean_query(q) for q in queries}
    kinds = [k for k, _ in mix]
    weights = [w for _, w in mix]
    while True:
        q = rng.choice(queries)
        if boolean[q]:
            yield "boolean", q
        else:
            yield rng.choices(kinds, weights)[0], q


def mix_report(sent: list) -> dict:
    """The mix a run actually sent: share of requests per kind and the
    share of the most frequent query."""
    n = max(1, len(sent))
    kinds = collections.Counter(k for k, _ in sent)
    out = {f"mix_{k}_share": c / n for k, c in sorted(kinds.items())}
    out["mix_top_query_share"] = collections.Counter(q for _, q in sent).most_common(1)[0][1] / n
    return out


# ------------------------------------------------------------- search
class Search:
    """``search_hot`` (turbo tier, caches warm) and ``search_plan``
    (distributed tier, ``turbo=False``) over the prebuilt 20k index."""

    def __init__(self, run: Run, spark, turbo: bool):
        self.run, self.spark, self.turbo = run, spark, turbo
        self.dir = inputs.ensure("search")
        with open(os.path.join(self.dir, "expected.json")) as f:
            self.expected = json.load(f)
        with open(os.path.join(self.dir, "meta.json")) as f:
            self.meta = json.load(f)
        self.queries = C.load_queries()
        self.ranked = list(self.expected["ranked"])
        self.mix = HOT_MIX if turbo else PLAN_MIX

    def open(self):
        idx = os.path.join(self.dir, "index")
        self.eng = QueryEngine(self.spark, idx, turbo=self.turbo)
        if self.turbo:
            self.wand = WandEngine(self.spark, idx)
            self.mmw = MultiMatchWand(self.spark, os.path.join(self.dir, "mf_index"))

    def request(self, kind: str, q: str):
        r = self.run
        if kind == "boolean":
            return r.call("query.boolean_topk", self.eng.boolean_topk, q, k=inputs.TOP_K)
        if kind == "ranked":
            return r.call("query.ranked", self.eng.ranked, q, k=inputs.TOP_K,
                          with_total_hits=False)
        if kind == "wand":
            return r.call("wand.topk", self.wand.topk, q, k=inputs.TOP_K)
        return r.call("mm_wand.topk", self.mmw.topk, q, k=inputs.TOP_K,
                      fields=inputs.MF_FIELDS, with_stats=r.tracer.enabled)

    def batch(self):
        return self.run.call("query.batch_ranked", self.eng.batch_ranked, self.ranked,
                             k=inputs.TOP_K)

    def warm(self) -> None:
        """Fill every cache the stream can touch (hot), or pay the
        plan tier's first-call costs (plan)."""
        if self.turbo:
            for kind, q in _pairs(self.queries, self.mix):
                self.request(kind, q)
        else:
            for kind, q in list(_pairs(self.queries, self.mix))[::20]:
                self.request(kind, q)
        self.batch()

    def setup(self) -> list:
        reps = []
        for _ in range(SETUP_REPS):
            t = C.now()
            self.open()
            self.warm()
            reps.append(C.now() - t)
        return reps

    def measure(self) -> dict:
        """One pass in equal slices of the window, each on the next CPU
        (see ``pin_client``): the request stream for most of each slice,
        then back-to-back ``batch_ranked`` calls (at least one) for the
        rest, so both sample the whole window and every CPU."""
        r = self.run
        slices = C.nproc() * (3 if self.turbo else 1)
        stream_share = 0.8 if self.turbo else 0.7
        lat, sent, checks, batch_s, blocks = [], [], [], [], [0, 0]
        stream = _stream(r.seed, self.queries, self.mix)
        sample = random.Random(r.seed)
        stream_s, t0 = 0.0, C.now()
        for i in range(slices):
            C.pin_client(i)
            t_slice = C.now()
            stop = t0 + r.seconds * (i + stream_share) / slices
            while True:
                kind, q = next(stream)
                sent.append((kind, q))
                r.tracer.request = len(lat)
                t = C.now()
                res = r.op(self.request, kind, q)
                lat.append((C.now() - t) * 1000)
                if res is not None and "stats" in res:
                    blocks[0] += res["stats"]["blocks_decoded"]
                    blocks[1] += res["stats"]["blocks_total"]
                if res is not None and sample.random() < CHECK_SHARE:
                    checks.append((kind, q, res))
                if C.now() >= stop:
                    break
            stream_s += C.now() - t_slice
            stop = t0 + r.seconds * (i + 1) / slices
            for n in itertools.count():
                r.tracer.request = f"batch-{len(batch_s)}"
                t = C.now()
                res = r.op(self.batch)
                batch_s.append(C.now() - t)
                if res is not None and n == 0:
                    checks.append(("batch", None, res))
                if C.now() >= stop:
                    break
        C.unpin_client()
        for kind, q, res in checks:
            if kind == "batch":
                r.verdict(check.batch_ok(res, self.expected))
            else:
                r.verdict(check.response_ok(kind, q, res, self.expected))
        p, tail = C.tail(lat)
        return {
            "query_p50_ms": C.median(lat), f"query_p{p}_ms": tail,
            "query_samples": len(lat),
            "query_qps": len(lat) / stream_s,
            "batch_qps": len(self.ranked) / C.median(batch_s),
            "batch_calls": len(batch_s),
            "checked_responses": len(checks),
            "mm_blocks": blocks,
            **mix_report(sent),
        }

    def sizes(self) -> dict:
        return C.index_sizes(os.path.join(self.dir, "index"))

    def bytes_per_text_byte(self) -> float:
        return self.sizes()["total"] / self.meta["text_bytes"]


def _pairs(queries: list, mix):
    """Every (kind, query) the stream can send."""
    for q in queries:
        if is_boolean_query(q):
            yield "boolean", q
        else:
            for kind, _ in mix:
                yield kind, q


def run_search(run: Run, turbo: bool) -> None:
    t = C.now()
    spark = C.start_spark(f"perfbench-{run.workload}")
    session_s = C.now() - t
    try:
        s = Search(run, spark, turbo)
        reps = s.setup()
        run.report["setup_s"] = session_s + C.median(reps)
        # not gated: the first repetition carries the one-time costs
        # (first imports, cold page cache) that the median leaves out
        run.report["setup_first_s"] = session_s + reps[0]
        run.detail["setup"] = {"session_s": session_s, "reps_s": reps}
        res = s.measure()
        res.pop("mm_blocks")
        run.report.update(res)
        run.report["driver_rss_mb"] = C.peak_rss_mb()
        run.report["index_bytes_per_text_byte"] = s.bytes_per_text_byte()
        if run.trace:
            traced_pass(run, spark, s.measure)
            run.layers.update(build_layers(None))
            run.layers.update(index_layers(s.sizes()))
    finally:
        C.stop_spark(spark)


def traced_pass(run: Run, spark, measure) -> dict:
    """Repeat the measured pass with spans and job groups on."""
    run.tracer = Tracer(True)
    run.work = SparkWork(spark)
    with patched(run.tracer):
        res = measure()
    run.work.finish()
    run.detail["traced_pass"] = res
    run.detail["trace_overhead"] = {
        k: res[k] - run.report[k] for k in res
        if k in run.report and isinstance(res[k], float) and not k.startswith("mix_")
    }
    run.layers.update(layer_metrics(run, res))
    return res


# ------------------------------------------------------------- ingest
class Ingest:
    """Timed full build of the seeded corpus after a warm-up build,
    then ``COMMITS`` delta commits (adds with fresh urls + url
    removals, ``compact=False``), then ``compact()``.  After each commit
    and after the compaction, a long-lived engine answers the probes and
    ``BATCH_CALLS`` ``batch_ranked`` calls.  With two commits the probe
    median falls inside the one-delta generation, between the no-delta
    (compacted) and the two-delta ones, not on the edge of a group."""

    def __init__(self, run: Run, spark):
        self.run, self.spark = run, spark
        self.dir = inputs.ensure("ingest", run.seed)
        with open(os.path.join(self.dir, "meta.json")) as f:
            self.meta = json.load(f)
        queries = C.load_queries()
        self.probes = list(queries)
        random.Random(run.seed).shuffle(self.probes)
        self.ranked = [q for q in queries if not is_boolean_query(q)]
        self.kind = {q: "boolean" if is_boolean_query(q) else "ranked" for q in queries}
        self.work_dir = os.path.join(C.WORK, "run", f"ingest-{os.getpid()}")
        self.passes = 0

    def close(self) -> None:
        shutil.rmtree(self.work_dir, ignore_errors=True)

    def build(self, name: str, path: str):
        idx = os.path.join(self.work_dir, name)
        b = IndexBuilder(self.spark, idx, inputs.ingest_config())
        t = C.now()
        manifest = self.run.call("build.build", b.build, self.spark.read.parquet(path))
        return b, idx, manifest, C.now() - t

    def setup(self) -> float:
        """Warm-up build of a small slice (JVM, Python workers, UDF
        path), removed afterwards."""
        t = C.now()
        _b, idx, _m, _s = self.build("warmup", os.path.join(self.dir, "warmup"))
        shutil.rmtree(idx)
        return C.now() - t

    def warm_probes(self, eng) -> None:
        """Every probe and one ``batch_ranked`` call on the fresh build,
        untimed.  Without it the first measured generation carried the
        probe path's first-use costs, and its probe median (which sets
        ``query_p50_ms``) spread 0.39 over ten runs against 0.12 for the
        second generation."""
        for i, q in enumerate(self.probes):
            C.pin_client(i)
            if self.kind[q] == "boolean":
                eng.boolean_topk(q, k=inputs.TOP_K)
            else:
                eng.ranked(q, k=inputs.TOP_K, with_total_hits=False)
        eng.batch_ranked(self.ranked, k=inputs.TOP_K)
        C.unpin_client()

    def probe_round(self, eng, gen: dict, lat: list) -> None:
        """Every probe once, then ``BATCH_CALLS`` ``batch_ranked`` calls."""
        r = self.run
        gen_lat = []
        for i, q in enumerate(self.probes):
            r.tracer.request = f"g{gen['gen']}-{i}"
            C.pin_client(i)
            t = C.now()
            if self.kind[q] == "boolean":
                res = r.op(r.call, "query.boolean_topk", eng.boolean_topk, q, k=inputs.TOP_K)
            else:
                res = r.op(r.call, "query.ranked", eng.ranked, q, k=inputs.TOP_K,
                           with_total_hits=False)
            gen_lat.append((C.now() - t) * 1000)
            gen["probes"].append((q, res))
        lat.extend(gen_lat)
        gen["first_probe_ms"] = gen_lat[0]
        gen["p50_ms"] = C.median(gen_lat)
        gen["batch_s"] = []
        for i in range(BATCH_CALLS):
            r.tracer.request = f"g{gen['gen']}-batch{i}"
            C.pin_client(gen["gen"] + i)
            t = C.now()
            res = r.op(r.call, "query.batch_ranked", eng.batch_ranked, self.ranked,
                       k=inputs.TOP_K)
            gen["batch_s"].append(C.now() - t)
            if i == 0:
                gen["batch"] = res
        C.unpin_client()

    def live_map(self, idx: str) -> dict:
        return {r["doc_id"]: r["url"] for r in live_docs(self.spark, idx).select("doc_id", "url").collect()}

    def measure(self) -> dict:
        """One pass on a fresh index.  Loop time excludes only the
        oracle's doc-id snapshots taken between generations."""
        r = self.run
        self.passes += 1
        builder, idx, manifest, build_s = self.build(f"pass{self.passes}", os.path.join(self.dir, "base"))
        sizes = [("build", C.index_sizes(idx))]
        eng = QueryEngine(self.spark, idx)
        t = C.now()
        r.call("bench.warm_probes", self.warm_probes, eng)
        probe_warmup_s = C.now() - t
        gens, lat, updates, paused = [], [], [], 0.0
        urls = set(self.meta["base_urls"])
        t0 = C.now()
        for step in range(1, inputs.COMMITS + 2):
            if step <= inputs.COMMITS:
                c = step - 1
                urls = urls.difference(self.meta["removes"][c]).union(self.meta["delta_urls"][c])
                t = C.now()
                r.op(r.call, "build.update_index", builder.update_index,
                     add=self.spark.read.parquet(os.path.join(self.dir, f"delta{c}")),
                     remove_urls=self.meta["removes"][c], compact=False)
                updates.append(C.now() - t)
            else:
                t = C.now()
                r.op(r.call, "build.compact", builder.compact)
                compact_s = C.now() - t
            gen = {"gen": step, "probes": [], "urls": urls,
                   "delta_segments": len(_manifest(idx).get("delta_segments", []))}
            self.probe_round(eng, gen, lat)
            t = C.now()
            gen["live"] = r.call("bench.live_docs", self.live_map, idx)
            if r.trace:
                sizes.append((f"gen{step}", C.index_sizes(idx)))
            paused += C.now() - t
            gens.append(gen)
        loop_s = C.now() - t0 - paused
        self.gens = gens
        p, tail = C.tail(lat)
        build_stats = manifest["stats"]
        return {
            "build_s": build_s,
            "probe_warmup_s": probe_warmup_s,
            "build_docs_per_s": build_stats["doc_count"] / build_s,
            "query_p50_ms": C.median(lat), f"query_p{p}_ms": tail,
            "query_samples": len(lat),
            "query_qps": len(lat) / loop_s,
            "batch_qps": len(self.ranked) / C.median([b for g in gens for b in g["batch_s"]]),
            "update_s": C.median(updates),
            "visible_ms": C.median([g["first_probe_ms"] for g in gens[:inputs.COMMITS]]),
            "compact_s": compact_s,
            "index_bytes_per_text_byte": sizes[0][1]["total"] / self.meta["text_bytes"],
            "build_stages": {m["stage"]: m["seconds"] for m in builder.metrics},
            "sizes": dict(sizes),
            "delta_segments_max": max(g["delta_segments"] for g in gens),
            "probe_p50_ms_by_generation": [g["p50_ms"] for g in gens],
            **mix_report([(self.kind[q], q) for g in gens for q, _ in g["probes"]]),
        }

    def check(self) -> None:
        """Every generation: the index's live urls are exactly the base
        plus the adds minus the removals so far, and its probes and batch
        answer match the oracle built over those docs (update ≡
        rebuild).  One oracle build per generation, on worker processes."""
        queries = sorted(set(self.probes) | set(self.ranked))
        tasks = []
        for gen in self.gens:
            ids = {u: d for d, u in gen["live"].items()}
            self.run.verdict(set(ids) == gen["urls"])
            tasks.append(([(ids[u], u) for u in gen["urls"] if u in ids], queries))
        wants = C.pool_map(inputs.live_answers, tasks,
                           inputs.load_tokens, (os.path.join(self.dir, "tokens.pkl"),))
        for gen, want in zip(self.gens, wants):
            for q, res in gen["probes"]:
                if res is not None:
                    self.run.verdict(check.response_ok(self.kind[q], q, res, want))
            if gen["batch"] is not None:
                self.run.verdict(check.batch_ok(gen["batch"], want))


def _manifest(idx: str) -> dict:
    with open(os.path.join(idx, "manifest.json")) as f:
        return json.load(f)


def run_ingest(run: Run) -> None:
    t = C.now()
    spark = C.start_spark("perfbench-ingest")
    session_s = C.now() - t
    ing = Ingest(run, spark)
    try:
        warm_s = ing.setup()
        res = ing.measure()
        run.report.update({k: v for k, v in res.items() if isinstance(v, (int, float))})
        run.detail["probe_p50_ms_by_generation"] = res["probe_p50_ms_by_generation"]
        # the index build and the probe warm-up happen before the first
        # timed request
        run.report["setup_s"] = session_s + warm_s + res["build_s"] + res["probe_warmup_s"]
        run.report["driver_rss_mb"] = C.peak_rss_mb()
        run.detail["setup"] = {"session_s": session_s, "warmup_s": warm_s}
        run.detail["build_stages"] = res["build_stages"]
        run.detail["sizes"] = res["sizes"]
        ing.check()
        if run.trace:
            traced = traced_pass(run, spark, ing.measure)
            ing.check()
            run.layers.update(build_layers(traced))
            run.layers.update(index_layers(traced["sizes"]["gen%d" % (inputs.COMMITS + 1)]))
    finally:
        ing.close()
        C.stop_spark(spark)


# ------------------------------------------------------------ per-layer
def _p50(xs: list) -> float:
    return C.median(xs) if xs else 0.0


def layer_metrics(run: Run, res: dict) -> dict:
    """Per-layer figures from one traced pass."""
    tr, work = run.tracer, run.work
    table = tr.layer_table()
    requests = max(1, res.get("query_samples", 0))
    out = {}
    tok = table.get("tokenizer", {"calls": 0, "self_ms": 0.0})
    out["tokenizer.calls"] = tok["calls"] / requests
    out["tokenizer.us_per_request"] = tok["self_ms"] * 1000 / requests
    out["query.ranked_ms"] = _p50(tr.calls("query.ranked"))
    out["query.boolean_ms"] = _p50(tr.calls("query.boolean_topk"))
    out["query.batch_ms"] = _p50(tr.calls("query.batch_ranked"))
    qjobs = work.jobs_of("query.")
    out["query.spark_jobs_per_call"] = sum(qjobs) / len(qjobs) if qjobs else 0.0
    out["query.turbo_share"] = sum(j == 0 for j in qjobs) / len(qjobs) if qjobs else 0.0
    out["wand.topk_ms"] = _p50(tr.calls("wand.topk"))
    wjobs = work.jobs_of("wand.")
    out["wand.spark_jobs_per_call"] = sum(wjobs) / len(wjobs) if wjobs else 0.0
    out["mm_wand.topk_ms"] = _p50(tr.calls("mm_wand.topk"))
    decoded, total = res.get("mm_blocks", (0, 0))
    mm_calls = max(1, len(tr.calls("mm_wand.topk")))
    out["mm_wand.blocks_decoded"] = decoded / mm_calls
    out["mm_wand.blocks_total"] = total / mm_calls
    out["mm_wand.decode_ratio"] = decoded / total if total else 0.0
    reader_ms = tr.outer_calls("reader.")
    out["reader.calls"] = len(reader_ms)
    out["reader.ms"] = sum(reader_ms)
    out["reader.delta_segments"] = res.get("delta_segments_max", 0)
    phases = work.per_phase()
    engine = [p for name, p in phases.items() if not name.startswith("bench.")]
    calls = sum(p["calls"] for p in engine)
    for key in ("jobs", "stages", "tasks"):
        out[f"spark.{key}_per_call"] = sum(p[key] for p in engine) / calls if calls else 0.0
    for layer in ("query", "wand", "mm_wand", "reader"):
        out[f"{layer}.self_ms"] = table.get(layer, {}).get("self_ms", 0.0) / requests
    out["trace.overhead_p50_ms"] = res["query_p50_ms"] - run.report["query_p50_ms"]
    out["trace.overhead_qps"] = res["query_qps"] - run.report["query_qps"]
    run.detail["layer_table"] = table
    run.detail["spark_phases"] = phases
    return out


def build_layers(res: dict) -> dict:
    """Stage seconds from ``IndexBuilder.metrics`` (stage names are
    ``tokenize``, ``seg_*/postings``, ``finalize/<stage>``), or zeros
    for a workload that builds nothing."""
    st = res["build_stages"] if res else {}

    def stage(name):
        return sum(v for k, v in st.items() if k == name or k.endswith("/" + name))

    return {
        "build.tokenize_s": stage("tokenize"),
        "build.postings_s": stage("postings"),
        "build.blocks_s": stage("blocks"),
        "build.dictionary_s": stage("dictionary"),
        "build.merge_s": stage("merge_postings"),
        "build.update_ms": res["update_s"] * 1000 if res else 0.0,
        "build.compact_ms": res["compact_s"] * 1000 if res else 0.0,
    }


def index_layers(sizes: dict) -> dict:
    out = {f"index.bytes.{p}": sizes[p] for p in C.INDEX_PARTS}
    out["index.files"] = sizes["files"]
    return out
