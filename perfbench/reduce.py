"""Reduce one run's raw measurements (written by the JVM program, `Main.scala`) to the
benchmark's metrics.

Pure functions only; `test_reduce.py` covers the arithmetic.
"""
import math
import statistics

# The operation each workload's closed loop repeats, as its sample class.
PRIMARY = {
    "bulk_build": ("build",),
    "query_log": ("or", "and", "exact", "parsed"),
}
# The loop median is taken over the loop's first MEASURED operations (all
# of them in a run that completes fewer), so every run measures the same
# sequence of operations however many fit in it.
# A run completes 5-7 builds and 14-22 queries on a quiet host.
MEASURED = {"bulk_build": 5, "query_log": 14}
# A timing taken while the hypervisor gave more than this share of the
# machine's CPU time to other guests (the `steal` of /proc/stat) is
# contended: see `uncontended`.
MAX_STEAL = 0.02
QUERY_CLASSES = ("or", "and", "exact", "parsed")
BAG_CLASSES = ("or", "and", "exact")
BUILD_PHASES = ("postings_write", "docmeta_write", "terms_write")
# Call site that labels the Spark jobs of the statistics layer. Its
# collection statistics run as a `head` action, its term statistics as a
# `collect` action.
STATS_SITE = "GlobalStats.scala"
# Parsed shapes whose rewrite expands terms against the dictionary.
EXPANDING_SHAPES = ("prefix", "fuzzy")


def median(values):
    if not values:
        raise ValueError("median of no samples")
    return statistics.median(values)


def tail_percentile(values, beyond=10):
    """The highest whole percentile above the median that has at least
    `beyond` samples above it, with its nearest-rank value:
    (percentile, value), or None when no such percentile exists.
    """
    n = len(values)
    s = sorted(values)
    for p in range(99, 50, -1):
        rank = math.ceil(p * n / 100)  # nearest rank, 1-based
        if rank >= 1 and n - rank >= beyond:
            return p, s[rank - 1]
    return None


def failed_frac(attempted, failed):
    """Failed or wrong operations over attempted ones."""
    if attempted < 1:
        raise ValueError("no operation attempted")
    if not 0 <= failed <= attempted:
        raise ValueError("failed count out of range")
    return failed / attempted


def union_length(intervals):
    """Total length covered by a set of [start, end) intervals."""
    total = 0
    cur_s = cur_e = None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_time(t0, t1, children):
    """A span's duration minus the part of it its children cover."""
    clipped = [(max(t0, s), min(t1, e)) for s, e in children]
    return (t1 - t0) - union_length([(s, e) for s, e in clipped if e > s])


# — end-to-end metrics (untraced runs) —

def uncontended(timings):
    """The timings taken while the host was not contended (steal share at
    most MAX_STEAL), when they are at least half of them; else all of
    them. A run on a host that is busy throughout reports what it saw."""
    calm = [t for t in timings if t["steal"] <= MAX_STEAL]
    return calm if 2 * len(calm) >= len(timings) else timings


def loop_ops(raw):
    """The loop's measured operations."""
    wl = raw["workload"]
    return [s for s in raw["samples"] if s["loop"] and s["cls"] in PRIMARY[wl]][:MEASURED[wl]]


def rate_builds(raw):
    """The builds `build_docs_per_s` is taken from."""
    kind = "timed" if raw["workload"] == "bulk_build" else "setup"
    return [b for b in raw["builds"] if b["kind"] == kind]


def end_to_end(raw):
    builds = rate_builds(raw)
    return {
        "setup_s": (median([x["ms"] / 1000 for x in uncontended(raw["setups"])]), "s"),
        "op_p50_ms": (median([s["ms"] for s in uncontended(loop_ops(raw))]), "ms"),
        "build_docs_per_s": (median([b["docs"] / (b["ms"] / 1000.0)
                                     for b in uncontended(builds)]), "1/s"),
        "index_bytes_per_text_byte": (
            median([b["index_bytes"] for b in builds]) / raw["text_bytes"], "ratio"),
    }


def sample_counts(raw):
    counts = {}
    for s in raw["samples"]:
        counts[s["cls"]] = counts.get(s["cls"], 0) + 1
    return counts


# — per-layer metrics (traced runs) —

class _Trace:
    def __init__(self, raw):
        self.spans = raw["spans"]
        self.jobs = [j for j in raw["jobs"] if j["t1"] >= 0]
        self.slots = raw["slots"]
        self.children = {}
        for s in self.spans:
            self.children.setdefault(s["parent"], []).append(s)
        self.jobs_of = {}
        for j in self.jobs:
            self.jobs_of.setdefault(j["span"], []).append(j)

    def named(self, name, **attrs):
        return [s for s in self.spans if s["name"] == name
                and all(s["attrs"].get(k) == v for k, v in attrs.items())]

    def subtree_jobs(self, span):
        out = list(self.jobs_of.get(span["id"], []))
        for c in self.children.get(span["id"], []):
            out += self.subtree_jobs(c)
        return out

    def self_ms(self, span):
        """Driver-side time: the span minus its child spans and jobs."""
        kids = [(c["t0"], c["t1"]) for c in self.children.get(span["id"], [])]
        kids += [(j["t0"], j["t1"]) for j in self.jobs_of.get(span["id"], [])]
        return self_time(span["t0"], span["t1"], kids) / 1e6

    def busy_frac(self, spans):
        run = sum(j["run_ms"] for s in spans for j in self.subtree_jobs(s))
        wall = sum(dur_ms(s) for s in spans)
        return run / (wall * self.slots)

    def per_span(self, spans, key):
        return median([sum(j[key] for j in self.subtree_jobs(s)) for s in spans])


def dur_ms(span):
    return (span["t1"] - span["t0"]) / 1e6


def executions(jobs):
    """Group jobs by SQL execution: one {t0, t1, desc, jobs} per
    execution, spanning its jobs, in start order."""
    execs = {}
    for j in jobs:
        e = execs.setdefault(j["exec"], {"t0": j["t0"], "t1": j["t1"], "desc": j["desc"], "jobs": 0})
        e["t0"] = min(e["t0"], j["t0"])
        e["t1"] = max(e["t1"], j["t1"])
        e["jobs"] += 1
    return sorted(execs.values(), key=lambda e: e["t0"])


def build_phases(jobs):
    """Split a build's jobs into phases by SQL execution, in order: the
    first three parquet writes are postings, docmeta and terms; whatever
    runs after the terms write is the manifest. Returns phase -> ms.
    """
    phases = {p: 0.0 for p in BUILD_PHASES + ("manifest",)}
    writes = 0
    for e in executions(jobs):
        ms = (e["t1"] - e["t0"]) / 1e6
        if e["desc"].startswith("parquet at") and writes < len(BUILD_PHASES):
            phases[BUILD_PHASES[writes]] += ms
            writes += 1
        elif writes == len(BUILD_PHASES):
            phases["manifest"] += ms
    return phases


def query_stats(jobs):
    """The statistics work inside one query, from the call sites of its
    jobs: (collection ms, term ms, number of jobs)."""
    coll = term = 0.0
    n = 0
    for e in executions([j for j in jobs if STATS_SITE in j["desc"]]):
        ms = (e["t1"] - e["t0"]) / 1e6
        if e["desc"].startswith("head at"):
            coll += ms
        else:
            term += ms
        n += e["jobs"]
    return coll, term, n


def rewrite_ms(span, parse_spans, jobs):
    """Rewrite time of one parsed query: from the end of its parsing to
    the first statistics job, which the compiler starts right after the
    rewrite. It covers the term-expansion jobs and the driver's rewrite
    work. None when the query ran no statistics job."""
    stats = [j["t0"] for j in jobs if STATS_SITE in j["desc"]]
    if not stats:
        return None
    start = max([p["t1"] for p in parse_spans], default=span["t0"])
    return (min(stats) - start) / 1e6


def class_samples(samples, cls):
    """Latencies of one query class: the loop's when it ran the class,
    else the probe's. Either way one snapshot, the workload's base index
    (queries on NRT snapshots are classed apart)."""
    loop = [s["ms"] for s in samples if s["cls"] == cls and s["loop"]]
    return loop or [s["ms"] for s in samples if s["cls"] == cls]


def overhead_frac(samples):
    """Traced over untraced loop latency, minus one: the mean over the
    classes sampled in both halves of each class's median ratio, so a
    different class mix in the two halves does not read as overhead."""
    ratios = []
    for c in sorted({s["cls"] for s in samples}):
        on = [s["ms"] for s in samples if s["cls"] == c and s["traced"]]
        off = [s["ms"] for s in samples if s["cls"] == c and not s["traced"]]
        if on and off:
            ratios.append(median(on) / median(off))
    return statistics.fmean(ratios) - 1.0


def per_layer(raw):
    t = _Trace(raw)
    m = {}

    def put(name, value, unit):
        m[name] = (value, unit)

    (an,) = t.named("analysis.analyze")
    put("analysis.analyze_docs_per_s", an["attrs"]["docs"] / (dur_ms(an) / 1000), "1/s")
    (dec,) = t.named("codec.decode")
    put("codec.decode_postings_per_s", dec["attrs"]["postings"] / (dur_ms(dec) / 1000), "1/s")

    builds = t.named("index.build")
    put("codec.bytes_per_posting", sum(b["attrs"]["manifest_bytes"] for b in builds)
        / sum(b["attrs"]["postings"] for b in builds), "B")
    phases = [build_phases(t.subtree_jobs(b)) for b in builds]
    for p in BUILD_PHASES:
        put(f"index.{p}_ms", median([ph[p] for ph in phases]), "ms")
    put("index.manifest_ms", median([ph["manifest"] for ph in phases]), "ms")
    put("index.jobs_per_build", median([len(t.subtree_jobs(b)) for b in builds]), "count")
    put("index.shuffle_write_bytes", t.per_span(builds, "shuffle_write"), "B")
    put("index.spill_bytes", t.per_span(builds, "spill"), "B")
    put("index.output_bytes", t.per_span(builds, "output_bytes"), "B")
    put("index.task_busy_frac", median([t.busy_frac([b]) for b in builds]), "ratio")
    put("index.driver_ms_per_build", median([t.self_ms(b) for b in builds]), "ms")
    put("index.reader_load_ms", median([dur_ms(s) for s in t.named("index.load")]), "ms")

    # statistics: the GlobalStats jobs the term-bag queries run themselves
    bags = [s for c in BAG_CLASSES for s in t.named("search.query", cls=c)]
    stats = [query_stats(t.subtree_jobs(s)) for s in bags]
    put("stats.collection_ms", median([c for c, _, _ in stats]), "ms")
    put("stats.term_ms", median([x for _, x, _ in stats]), "ms")
    put("stats.jobs_per_query", median([n for _, _, n in stats]), "count")
    ors = t.named("search.query", cls="or")
    put("stats.share_of_or", median([sum(query_stats(t.subtree_jobs(s))[:2]) / dur_ms(s)
                                     for s in ors]), "ratio")

    put("search.parse_us", median([dur_ms(s) * 1000 for s in t.named("search.parse")]), "us")
    rewrites = [rewrite_ms(s, [c for c in t.children.get(s["id"], []) if c["name"] == "search.parse"],
                           t.subtree_jobs(s))
                for s in t.named("search.query", cls="parsed")
                if s["attrs"].get("shape") in EXPANDING_SHAPES]
    put("search.rewrite_ms", median([x for x in rewrites if x is not None]), "ms")
    queries = []
    for c in QUERY_CLASSES:
        qs = t.named("search.query", cls=c)
        queries += qs
        put(f"search.jobs_per_query.{c}", median([len(t.subtree_jobs(s)) for s in qs]), "count")
        put(f"search.input_bytes_per_query.{c}", t.per_span(qs, "input_bytes"), "B")
        put(f"search.shuffle_bytes_per_query.{c}", t.per_span(qs, "shuffle_write"), "B")
    for c in QUERY_CLASSES:
        put(f"search.{c}_p50_ms", median(class_samples(raw["samples"], c)), "ms")
    put("search.task_busy_frac", t.busy_frac(queries), "ratio")
    put("search.driver_ms_per_query", median([t.self_ms(s) for s in queries]), "ms")
    put("search.query_term_blocks", median(
        [s["attrs"]["term_blocks"] for s in queries if s["attrs"]["cls"] != "parsed"]), "count")

    ingests = t.named("streaming.ingest")
    put("streaming.ingest_ms", median([dur_ms(s) for s in ingests]), "ms")
    put("streaming.jobs_per_ingest", median([len(t.subtree_jobs(s)) for s in ingests]), "count")
    put("streaming.output_bytes_per_ingest", t.per_span(ingests, "output_bytes"), "B")
    put("streaming.snapshot_batches", raw["micro"]["snapshot_batches"], "count")
    for c in ("commit", "visible", "query"):
        put(f"streaming.{c}_p50_ms",
            median([s["ms"] for s in raw["samples"] if s["cls"] == f"nrt_{c}"]), "ms")

    put("trace.overhead_frac", overhead_frac(
        [s for s in raw["samples"] if s["loop"] and s["cls"] in PRIMARY[raw["workload"]]]), "ratio")
    return m
