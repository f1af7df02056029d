"""Turn a run record (spans, jobs, stages) into the benchmark's metrics.

The record is what `perfbench.Main` writes: one span per call from the
benchmark into a layer of graft, and, for traced spans, the Spark jobs and
stages the listener attributed to them through the per-span job group.
"""
import statistics

MB = 1e6

# The manifest-table ops whose latency, job count and driver gap are
# reported; each is also the name of its span.
SOURCE_OPS = ["sources.append", "sources.mergeCoW", "sources.deleteWhere",
              "sources.updateWhere", "sources.readWherePointEquals",
              "sources.readWhereKeyBetween", "sources.readAt",
              "sources.sql_where"]
WRITE_OPS = {"sources.append", "sources.mergeCoW", "sources.deleteWhere",
             "sources.updateWhere", "streaming.upsert_batch"}
READ_OPS = {"sources.readWherePointEquals", "sources.readWhereKeyBetween",
            "sources.readAt", "sources.sql_where"}
REWRITE_OPS = {"sources.mergeCoW", "sources.deleteWhere",
               "sources.updateWhere"}
SEGMENTS = ["docFeatures", "shingles", "spanFeatures", "signatures",
            "clusterLabels", "suffixShared", "kmeansCodebook", "pqIndex"]
CONSUMERS = ["q15_exact_dedup", "q18_minhash_lsh", "q19_ngram_jaccard",
             "q20_simhash", "q21_embedding_neardup", "q22_ann_lsh",
             "q48_simhash_pairs", "q57_ann_ivf_kmeans", "q77_ann_ivf_pq",
             "q88_dup_spans", "q114_suffix_repeats", "q50_corpus_curation",
             "q154_suffix_refresh"]
SELF_LAYERS = ["bench", "api", "operators", "sources", "streaming"]
REFERENCE_MB_S = 37.0  # the reference's inverted-index throughput


# ------------------------------------------------------------- arithmetic

def percentile(xs, q):
    """The q-th percentile (0..100), interpolating linearly between the
    closest ranks."""
    xs = sorted(xs)
    if not xs:
        raise ValueError("percentile of no values")
    pos = (len(xs) - 1) * q / 100.0
    lo = int(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def median(xs):
    return percentile(xs, 50)


def union_length(intervals):
    """Total length covered by a set of (start, end) intervals."""
    total, end = 0.0, None
    for a, b in sorted(intervals):
        if end is None or a > end:
            total += b - a
            end = b
        elif b > end:
            total += b - end
            end = b
    return total


def covered(span, intervals):
    """Length of `span` = (start, end) that the intervals cover."""
    a, b = span
    return union_length([(max(a, x), min(b, y)) for x, y in intervals
                         if min(b, y) > max(a, x)])


def self_time(span, children):
    """A span's duration minus the part of it its child spans cover."""
    return (span[1] - span[0]) - covered(span, children)


def spread(values):
    """Interquartile range as a share of the median."""
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / q2


# ---------------------------------------------------------------- records

class Record:
    """Indexes a run record: span tree, and jobs and stages per span."""

    def __init__(self, rec):
        self.meta = rec["meta"]
        self.spans = rec["spans"]
        self.children = {}
        for s in self.spans:
            self.children.setdefault(s["parent"], []).append(s)
        self.stages = {s["id"]: s for s in rec["stages"]}
        self.jobs_of = {}
        for j in rec["jobs"]:
            if j["group"].startswith("pb-"):
                self.jobs_of.setdefault(int(j["group"][3:]), []).append(j)

    def named(self, name, phase=None, traced=None):
        return [s for s in self.spans if s["name"] == name
                and (phase is None or s["phase"] == phase)
                and (traced is None or s["traced"] == traced)]

    def descendants(self, s):
        out, todo = [], [s]
        while todo:
            x = todo.pop()
            out.append(x)
            todo.extend(self.children.get(x["id"], []))
        return out

    def jobs(self, s):
        return [j for d in self.descendants(s)
                for j in self.jobs_of.get(d["id"], [])]

    def stages_of(self, s):
        ids = {sid for j in self.jobs(s) for sid in j["stages"]}
        return [self.stages[i] for i in sorted(ids) if i in self.stages]

    def stat(self, s, key):
        return sum(st[key] for st in self.stages_of(s))

    def driver_gap(self, s):
        """Span wall minus the union of its jobs' intervals."""
        ivs = [(j["t0"], j["t1"]) for j in self.jobs(s)
               if j["t0"] is not None and j["t1"] is not None]
        return wall(s) - covered((s["t0"], s["t1"]), ivs)

    def self_by_layer(self, s):
        """Self time of every span under `s`, summed per layer."""
        out = {}
        for d in self.descendants(s):
            kids = [(c["t0"], c["t1"]) for c in self.children.get(d["id"], [])]
            out[d["layer"]] = out.get(d["layer"], 0.0) + \
                self_time((d["t0"], d["t1"]), kids)
        return out


def wall(s):
    return s["t1"] - s["t0"]


def stage_wall(st):
    return 0.0 if st["t0"] is None or st["t1"] is None else st["t1"] - st["t0"]


def med_or_zero(xs):
    xs = list(xs)
    return median(xs) if xs else 0.0


# ------------------------------------------------------------ end-to-end

def passes(r, traced=False):
    return [s for s in r.named("pass", "measure", traced) if s["ok"]]


def end_to_end(r):
    """The gated metrics, each as (value, unit, sample count)."""
    setups = [wall(s) for s in r.named("setup", "setup") if s["ok"]]
    untraced = passes(r, traced=False)
    return {
        "setup_s": (median(setups), "s", len(setups)),
        "pass_s": (median([wall(s) for s in untraced]), "s", len(untraced)),
        "peak_rss_mb": (r.meta["peak_rss_kb"] / 1024.0, "MB", 1),
    }


def workload_report(r, facts):
    """The per-workload end-to-end figures (ungated), for the human report:
    value, unit and sample count."""
    untraced = passes(r)
    # JVM CPU time per pass, all threads: ungated, as JIT and collector
    # threads make it spread more than the wall time does
    out = {"pass_cpu_s": (median([s["attrs"]["cpu_s"] for s in untraced]),
                          "s", len(untraced))}
    ops = [d for p in untraced for d in r.descendants(p) if d is not p]
    w = r.meta["workload"]
    fin = r.meta.get("finish") or {}
    if w == "text-index":
        mb = facts["corpus_bytes"] / MB
        for key, name in (("index_mb_s", "api.MRJob.invertedIndex"),
                          ("sql_index_mb_s", "operators.q2")):
            t = [wall(s) for s in ops if s["name"] == name]
            if t:
                out[key] = (mb / median(t), "MB/s", len(t))
        if "index_mb_s" in out:
            out["index_anchor_ratio"] = (
                out["index_mb_s"][0] / REFERENCE_MB_S, "ratio", 1)
    if w == "table-lifecycle":
        for kind, names in (("write", WRITE_OPS), ("read", READ_OPS)):
            t = [wall(s) for s in ops if s["name"] in names]
            if t:
                out[f"{kind}_p50_s"] = (percentile(t, 50), "s", len(t))
                out[f"{kind}_p90_s"] = (percentile(t, 90), "s", len(t))
        if fin.get("fresh_bytes"):
            out["space_amp"] = (fin["table_bytes"] / fin["fresh_bytes"],
                                "ratio", 1)
    if "check_out" in fin:
        build = r.named("Artifacts.build", "probe")
        cons = r.named("operators.consumers", "probe")
        if build:
            out["build_s"] = (wall(build[0]), "s", 1)
        if cons:
            out["query_pass_s"] = (wall(cons[0]), "s", 1)
    return out


# -------------------------------------------------------------- per layer

def per_layer(r, facts):
    """Every per-layer metric name mapped to its value; metrics of layers a
    workload does not exercise read 0. `facts` holds what the generator
    knows: `corpus_bytes`, `emits`, and the op list `ops`."""
    m = {}
    traced = passes(r, traced=True)
    probe = [s for s in r.spans if s["phase"] == "probe"]
    measured = [d for p in traced for d in r.descendants(p) if d is not p]
    pool = measured + probe

    def spans(name):
        return [s for s in pool if s["name"] == name and s["ok"]]

    m["GraftSession.create_s"] = med_or_zero(
        wall(s) for s in r.named("GraftSession.create", "setup"))
    m["GraftSession.warmup_s"] = med_or_zero(
        wall(s) for s in r.named("GraftSession.warmup", "warmup"))

    # api: the MRJob inverted index
    mr = spans("api.MRJob.invertedIndex")
    emits = facts.get("emits", 0) if mr else 0

    def staged(s, pred):
        return sum(stage_wall(st) for st in r.stages_of(s) if pred(st))

    def is_map(st):
        return st["shuffle_write_bytes"] > 0

    def is_reduce(st):
        return st["shuffle_write_bytes"] == 0 and st["shuffle_read_bytes"] > 0

    def skew(s):
        red = [st for st in r.stages_of(s) if is_reduce(st) and st["task_ms"]]
        if not red:
            return 0.0
        big = max(red, key=lambda st: sum(st["task_ms"]))
        mid = median(big["task_ms"])
        return max(big["task_ms"]) / mid if mid > 0 else 0.0

    recs = med_or_zero(r.stat(s, "shuffle_write_records") for s in mr)
    m["api.map_stage_s"] = med_or_zero(staged(s, is_map) for s in mr)
    m["api.reduce_stage_s"] = med_or_zero(staged(s, is_reduce) for s in mr)
    m["api.emits"] = emits
    m["api.shuffle_records"] = recs
    m["api.combine_ratio"] = recs / emits if emits else 0.0
    m["api.shuffle_mb"] = med_or_zero(
        r.stat(s, "shuffle_write_bytes") / MB for s in mr)
    m["api.spill_mb"] = med_or_zero(r.stat(s, "spill_bytes") / MB for s in mr)
    m["api.task_skew"] = med_or_zero(skew(s) for s in mr)

    # functions
    tok = spans("functions.tokenize")
    m["functions.tokenize_mb_s"] = (
        facts["corpus_bytes"] / MB / median([wall(s) for s in tok])
        if tok else 0.0)
    m["functions.shingle_s"] = med_or_zero(
        wall(s) for s in spans("functions.shingle"))

    # operators: q2 per pass, curation consumers in the probe
    q2 = spans("operators.q2")
    m["operators.q2.stage_s"] = med_or_zero(
        staged(s, lambda st: True) for s in q2)
    m["operators.q2.shuffle_mb"] = med_or_zero(
        r.stat(s, "shuffle_write_bytes") / MB for s in q2)
    for q in CONSUMERS:
        ss = spans(f"operators.{q}")
        m[f"operators.{q}_s"] = med_or_zero(wall(s) for s in ss)
        m[f"operators.{q}.shuffle_mb"] = med_or_zero(
            r.stat(s, "shuffle_write_bytes") / MB for s in ss)

    # Artifacts
    for seg in SEGMENTS:
        ss = spans(f"Artifacts.{seg}")
        m[f"Artifacts.{seg}_s"] = med_or_zero(wall(s) for s in ss)
        m[f"Artifacts.{seg}.shuffle_mb"] = med_or_zero(
            r.stat(s, "shuffle_write_bytes") / MB for s in ss)
    m["Artifacts.written_mb"] = med_or_zero(
        r.stat(s, "output_bytes") / MB for s in spans("Artifacts.build"))

    # sources
    for name in SOURCE_OPS:
        ss = spans(name)
        m[f"{name}_p50_s"] = med_or_zero(wall(s) for s in ss)
        m[f"{name}.jobs"] = med_or_zero(len(r.jobs(s)) for s in ss)
        m[f"{name}.driver_gap_s"] = med_or_zero(r.driver_gap(s) for s in ss)

    def file_share(name):
        return med_or_zero(
            s["attrs"]["files_read"] / s["attrs"]["table_files"]
            for s in spans(name) if s["attrs"].get("table_files"))

    m["sources.files_per_point_read"] = file_share(
        "sources.readWherePointEquals")
    m["sources.files_per_range_read"] = file_share(
        "sources.readWhereKeyBetween")
    m["sources.files_per_sql_where"] = file_share("sources.sql_where")
    m["sources.files_rewritten_per_write"] = med_or_zero(
        s["attrs"]["rewritten"] for s in pool
        if s["name"] in REWRITE_OPS and s["ok"])
    writes = [s for s in pool if s["name"] in WRITE_OPS and s["ok"]]
    fin = r.meta.get("finish") or {}
    rows = (fin.get("final_digest") or [0])[0]
    if writes and rows and fin.get("fresh_bytes"):
        per_row = fin["fresh_bytes"] / rows
        changed = sum(facts["ops"][s["attrs"]["op_index"]]["changed_rows"]
                      for s in writes)
        written = sum(r.stat(s, "output_bytes") for s in writes)
        m["sources.write_amp"] = written / (changed * per_row) \
            if changed else 0.0
    else:
        m["sources.write_amp"] = 0.0
    vac = spans("sources.vacuum")
    m["sources.vacuum_s"] = med_or_zero(wall(s) for s in vac)
    m["sources.reclaimed_mb"] = med_or_zero(
        s["attrs"].get("reclaimed_bytes", 0) / MB for s in vac)
    m["sources.commit_conflicts"] = sum(
        1 for s in r.spans if "ConcurrentModification" in s["error"])

    # streaming
    up = spans("streaming.upsert_batch")
    m["streaming.upsert_batch_s"] = med_or_zero(wall(s) for s in up)
    m["streaming.upsert_batch.jobs"] = med_or_zero(len(r.jobs(s)) for s in up)

    # the Spark engine, per traced pass
    cores = r.meta["cores"]

    def per_pass(f):
        return med_or_zero(f(p) for p in traced)

    m["spark.jobs"] = per_pass(lambda p: len(r.jobs(p)))
    m["spark.stages"] = per_pass(lambda p: len(r.stages_of(p)))
    m["spark.tasks"] = per_pass(lambda p: r.stat(p, "tasks"))
    m["spark.tasks_failed"] = sum(st["tasks_failed"]
                                  for st in r.stages.values())
    m["spark.driver_gap_s"] = per_pass(r.driver_gap)
    m["spark.task_cpu_s"] = per_pass(lambda p: r.stat(p, "cpu_ns") / 1e9)
    m["spark.cpu_util"] = per_pass(
        lambda p: r.stat(p, "cpu_ns") / 1e9 / (wall(p) * cores))
    m["spark.gc_s"] = per_pass(lambda p: r.stat(p, "gc_ms") / 1e3)
    m["spark.fetch_wait_s"] = per_pass(
        lambda p: r.stat(p, "fetch_wait_ms") / 1e3)
    m["spark.shuffle_write_mb"] = per_pass(
        lambda p: r.stat(p, "shuffle_write_bytes") / MB)
    m["spark.spill_mb"] = per_pass(lambda p: r.stat(p, "spill_bytes") / MB)

    # tracing overhead and self time
    untraced = passes(r, traced=False)
    m["trace.overhead_s"] = (
        median([wall(s) for s in traced]) - median([wall(s) for s in untraced])
        if traced and untraced else 0.0)
    for layer in SELF_LAYERS:
        m[f"self.{layer}_s"] = per_pass(
            lambda p: r.self_by_layer(p).get(layer, 0.0))
    return m


# Units and directions of the per-layer metrics, for BENCHMARK.json.
def layer_units():
    names = list(per_layer_names())
    out = []
    for n in names:
        if n.endswith("_mb_s"):
            unit, better = "MB/s", "higher"
        elif n.endswith("_s"):
            unit, better = "s", "lower"
        elif n.endswith("_mb"):
            unit, better = "MB", "lower"
        elif n.endswith(".jobs") or n in (
                "spark.jobs", "spark.stages", "spark.tasks",
                "spark.tasks_failed", "sources.commit_conflicts",
                "api.emits", "api.shuffle_records",
                "sources.files_rewritten_per_write"):
            unit, better = "count", "lower"
        elif n == "spark.cpu_util":
            unit, better = "ratio", "higher"
        else:
            unit, better = "ratio", "lower"
        out.append({"name": n, "unit": unit, "better": better})
    return out


def per_layer_names():
    fake = {"meta": {"peak_rss_kb": 0, "cores": 1, "workload": "",
                     "finish": {}},
            "spans": [], "jobs": [], "stages": []}
    return per_layer(Record(fake), {"corpus_bytes": 0}).keys()
