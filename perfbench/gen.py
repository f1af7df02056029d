"""Seeded input generator for the graft benchmark.

Every workload's inputs are a pure function of (workload, seed, scale): the
same arguments write byte-identical files. The generator also plays oracle:
it records what a correct program must output (the reference's
`SimpleInvertedIndex` role for text-index, an in-memory model of the op
sequence for table-lifecycle). Curation results are checked against DuckDB
instead, so its generator writes no expectations.

Inputs are cached per (workload, seed, scale) under the cache directory given
by the caller; `meta.json` is written last and marks a complete set.
"""
import itertools
import json
import os
import random
import shutil

import pyarrow as pa
import pyarrow.parquet as pq

# Generator parameters per workload. `scale` multiplies the size knobs
# (corpus_mb, docs, rows and the per-round op sizes); the tests run at a
# tiny scale, the benchmark at 1.0.
PARAMS = {
    "text-index": {
        "corpus_mb": 6.0, "files": 16, "vocab": 20000, "zipf_s": 1.1,
        "words_per_line": 12, "lines_per_doc": 8, "upper_share": 0.1,
    },
    "curation": {
        "docs": 500, "sources": 20,
        "langs": {"en": 0.4, "fr": 0.15, "es": 0.15, "zh": 0.15, "de": 0.15},
        "min_chars": 44, "max_chars": 577,
        "near_dup_share": 0.10, "exact_dup_share": 0.03,
        "vectors": 500, "dim": 64, "clusters": 10, "noise": 0.35,
    },
    "table-lifecycle": {
        "rows": 20000, "files": 8, "rounds": 16,
        "append_rows": 1000, "merge_upserts": 500, "merge_removes": 200,
        "delete_width": 300, "update_width": 300, "upsert_rows": 400,
        "range_width": 1000,
        "op_mix": ["append", "point", "mergeCoW", "range", "deleteWhere",
                   "sql_where", "updateWhere", "point", "upsertBatch",
                   "readAt", "sql_where", "vacuum"],
        "vacuum_retain": 4,
    },
}

# The fixture recipe's curation vocabulary: 30 uniform words plus the
# "dup" marker the planted near-duplicates carry.
CURATION_WORDS = (
    "scan column window order sort part agg value line key join merge "
    "group query a vector hash slow stream filter fast the batch spark "
    "table small data big customer row").split()

ALNUM = "abcdefghijklmnopqrstuvwxyz0123456789"


def cache_dir(root, workload, seed, scale):
    return os.path.join(root, workload, f"seed{seed}-x{scale:g}")


def ensure(root, workload, seed, scale=1.0):
    """Return (dir, meta) for the inputs, generating them on a cache miss."""
    out = cache_dir(root, workload, seed, scale)
    meta_path = os.path.join(out, "meta.json")
    if os.path.exists(meta_path):
        with open(meta_path) as f:
            return out, json.load(f)
    if os.path.exists(out):
        shutil.rmtree(out)
    tmp = out + ".tmp"
    if os.path.exists(tmp):
        shutil.rmtree(tmp)
    os.makedirs(tmp)
    meta = GENERATORS[workload](random.Random(f"{workload}:{seed}"), tmp,
                                scaled(PARAMS[workload], scale))
    meta.update({"workload": workload, "seed": seed, "scale": scale})
    with open(os.path.join(tmp, "meta.json"), "w") as f:
        json.dump(meta, f, sort_keys=True)
    os.rename(tmp, out)
    return out, meta


def prune(root, keep):
    """Keep the `keep` most recently generated input sets per workload."""
    for workload in os.listdir(root):
        d = os.path.join(root, workload)
        sets = sorted((os.path.join(d, x) for x in os.listdir(d)),
                      key=os.path.getmtime, reverse=True)
        for old in sets[keep:]:
            shutil.rmtree(old, ignore_errors=True)


def scaled(params, scale):
    p = dict(params)
    for k in ("corpus_mb", "docs", "vectors", "rows", "append_rows",
              "merge_upserts", "merge_removes", "delete_width",
              "update_width", "upsert_rows", "range_width"):
        if k in p:
            p[k] = type(p[k])(max(1, p[k] * scale)) if k != "corpus_mb" \
                else p[k] * scale
    return p


def write_parquet(path, columns, schema):
    pq.write_table(pa.table(columns, schema=schema), path)


DOC_SCHEMA = pa.schema([("doc_id", pa.int64()), ("text", pa.string()),
                        ("lang", pa.string()), ("source", pa.string()),
                        ("n_chars", pa.int64())])


def write_documents(path, docs):
    """docs: list of (text, lang, source)."""
    write_parquet(path, {
        "doc_id": list(range(len(docs))),
        "text": [d[0] for d in docs],
        "lang": [d[1] for d in docs],
        "source": [d[2] for d in docs],
        "n_chars": [len(d[0]) for d in docs],
    }, DOC_SCHEMA)


# --------------------------------------------------------------- text-index

def vocabulary(rng, n):
    words, seen = [], set()
    while len(words) < n:
        w = "".join(rng.choice(ALNUM) for _ in range(rng.randint(2, 10)))
        if w not in seen:
            seen.add(w)
            words.append(w)
    return words


def gen_text_index(rng, out, p):
    vocab = vocabulary(rng, p["vocab"])
    cum = list(itertools.accumulate(
        1.0 / (r ** p["zipf_s"]) for r in range(1, len(vocab) + 1)))
    names = [f"doc{i:02d}.txt" for i in range(p["files"])]
    target = int(p["corpus_mb"] * 1e6 / p["files"])
    wpl, lpd = p["words_per_line"], p["lines_per_doc"]
    os.makedirs(os.path.join(out, "text"))
    index = {}
    docs, emits, corpus_bytes = [], 0, 0
    for fi, name in enumerate(names):
        bit = 1 << fi
        lines, size = [], 0
        while size < target:
            words = rng.choices(vocab, cum_weights=cum, k=wpl)
            for w in words:
                index[w] = index.get(w, 0) | bit
            emits += len(words)
            shown = [w.upper() if rng.random() < p["upper_share"] else w
                     for w in words]
            line = " ".join(shown[:wpl // 2]) + ", " + \
                " ".join(shown[wpl // 2:]) + "."
            lines.append(line)
            size += len(line) + 1
        body = "\n".join(lines) + "\n"
        corpus_bytes += len(body)
        with open(os.path.join(out, "text", name), "w") as f:
            f.write(body)
        for i in range(0, len(lines), lpd):
            docs.append(("\n".join(lines[i:i + lpd]), "en", name))
    write_documents(os.path.join(out, "documents.parquet"), docs)
    with open(os.path.join(out, "expected_index.txt"), "w") as f:
        for w in sorted(index):
            bits = index[w]
            files = [n for i, n in enumerate(names) if bits >> i & 1]
            f.write(f"{w} -> [{', '.join(files)}]\n")
    return {"corpus_bytes": corpus_bytes, "emits": emits,
            "distinct_words": len(index), "documents": len(docs),
            "files": names, "params": p}


# ----------------------------------------------------------------- curation

def gen_curation(rng, out, p):
    langs, weights = zip(*p["langs"].items())
    texts = []
    for _ in range(p["docs"]):
        r = rng.random()
        if texts and r < p["exact_dup_share"]:
            text = rng.choice(texts)
        elif texts and r < p["exact_dup_share"] + p["near_dup_share"]:
            words = rng.choice(texts).split()
            for _ in range(rng.randint(1, 2)):
                words[rng.randrange(len(words))] = rng.choice(CURATION_WORDS)
            text = " ".join(words)
            if not text.endswith(" dup"):
                text += " dup"
        else:
            n = rng.randint(p["min_chars"], p["max_chars"])
            words = []
            while len(" ".join(words)) < n:
                words.append(rng.choice(CURATION_WORDS))
            text = " ".join(words)
        texts.append(text)
    docs = [(t, rng.choices(langs, weights)[0], f"src{i % p['sources']}")
            for i, t in enumerate(texts)]
    write_documents(os.path.join(out, "documents.parquet"), docs)

    dim = p["dim"]
    centers = [unit([rng.gauss(0, 1) for _ in range(dim)])
               for _ in range(p["clusters"])]
    vecs, labels = [], []
    for _ in range(p["vectors"]):
        c = rng.randrange(p["clusters"])
        vecs.append(unit([x + rng.gauss(0, p["noise"] / dim ** 0.5)
                          for x in centers[c]]))
        labels.append(c)
    write_parquet(os.path.join(out, "embeddings.parquet"), {
        "vec_id": list(range(len(vecs))), "embedding": vecs,
        "label": labels,
    }, pa.schema([("vec_id", pa.int64()),
                  ("embedding", pa.list_(pa.float32())),
                  ("label", pa.int32())]))
    return {"documents": len(docs), "vectors": len(vecs),
            "corpus_bytes": sum(len(t) for t in texts), "params": p}


def unit(v):
    n = sum(x * x for x in v) ** 0.5
    return [x / n for x in v]


# ---------------------------------------------------------- table-lifecycle

LC_SCHEMA = pa.schema([("k", pa.int64()), ("b", pa.int64()),
                       ("v", pa.int64()), ("qty", pa.int32()),
                       ("flag", pa.string())])
FLAGS = ("A", "N", "R")


def bloom_value(k):
    """The bloom column: a scattered bijection of the key, so key bounds
    cannot prune a point read on it and only the bloom sidecar can."""
    return (k * 2654435761) % 4294967311


def lc_row(rng, k):
    return (k, bloom_value(k), rng.randrange(1, 10**6),
            rng.randrange(1, 51), rng.choice(FLAGS))


def checksum(rows):
    """(count, sum k, sum b, sum v, sum qty, count flag='R'), the digest
    the program reports for every read."""
    c = [0, 0, 0, 0, 0, 0]
    for k, b, v, q, f in rows:
        c[0] += 1
        c[1] += k
        c[2] += b
        c[3] += v
        c[4] += q
        c[5] += f == "R"
    return c


class TableModel:
    """The table as a dict key -> row with a running digest, plus the
    full-table digest of every committed version (for `readAt`)."""

    def __init__(self, rows):
        self.rows = {}
        self.digest = [0] * 6
        for r in rows:
            self.put(r)
        self.version = 1
        self.digests = {1: list(self.digest)}

    def _add(self, r, sign):
        d = self.digest
        d[0] += sign
        d[1] += sign * r[0]
        d[2] += sign * r[1]
        d[3] += sign * r[2]
        d[4] += sign * r[3]
        d[5] += sign * (r[4] == "R")

    def put(self, r):
        self.pop(r[0])
        self.rows[r[0]] = r
        self._add(r, 1)

    def pop(self, k):
        r = self.rows.pop(k, None)
        if r is not None:
            self._add(r, -1)
        return r

    def commit(self):
        self.version += 1
        self.digests[self.version] = list(self.digest)


def gen_table_lifecycle(rng, out, p):
    n = p["rows"]
    base = [lc_row(rng, k) for k in range(n)]
    write_parquet(os.path.join(out, "base.parquet"),
                  {name: [r[i] for r in base]
                   for i, name in enumerate(LC_SCHEMA.names)}, LC_SCHEMA)
    model = TableModel(base)
    next_key = n
    live = []
    ops = []

    def pick_live():
        return live[rng.randrange(len(live))]

    def fresh_rows(count):
        nonlocal next_key
        rows = [lc_row(rng, next_key + i) for i in range(count)]
        next_key += count
        return rows

    for rnd in range(p["rounds"]):
        live = list(model.rows)
        for kind in p["op_mix"]:
            op = {"op": kind, "round": rnd}
            if kind == "append":
                rows = fresh_rows(p["append_rows"])
                for r in rows:
                    model.put(r)
                op["rows"] = rows
            elif kind == "mergeCoW":
                keys = rng.sample(live, p["merge_upserts"] + p["merge_removes"])
                ups = [lc_row(rng, k) for k in keys[:p["merge_upserts"]]]
                removes = keys[p["merge_upserts"]:]
                for k in removes:
                    model.pop(k)
                for r in ups:
                    model.put(r)
                op["rows"], op["remove"] = ups, removes
            elif kind == "upsertBatch":
                half = p["upsert_rows"] // 2
                rows = [lc_row(rng, k) for k in rng.sample(live, half)] + \
                    fresh_rows(p["upsert_rows"] - half)
                for r in rows:
                    model.put(r)
                op["rows"] = rows
            elif kind == "deleteWhere":
                lo = pick_live()
                hi = lo + p["delete_width"]
                op["changed_rows"] = sum(
                    model.pop(k) is not None
                    for k in range(lo, hi))
                op["lo"], op["hi"] = lo, hi
            elif kind == "updateWhere":
                lo = pick_live()
                hi = lo + p["update_width"]
                op["changed_rows"] = 0
                for k in range(lo, hi):
                    r = model.rows.get(k)
                    if r:
                        model.put((r[0], r[1], r[2] + 1, r[3], r[4]))
                        op["changed_rows"] += 1
                op["lo"], op["hi"] = lo, hi
            elif kind == "point":
                k = pick_live() if rng.random() < 0.9 else next_key + 10**6
                op["b"] = bloom_value(k)
                op["expect"] = checksum(
                    [r] if (r := model.rows.get(k)) else [])
            elif kind == "sql_where":
                k = pick_live() if rng.random() < 0.9 else next_key + 10**6
                op["k"] = k
                op["expect"] = checksum(
                    [r] if (r := model.rows.get(k)) else [])
            elif kind == "range":
                lo = pick_live()
                hi = lo + p["range_width"] - 1
                op["lo"], op["hi"] = lo, hi
                op["expect"] = checksum(
                    r for k in range(lo, hi + 1)
                    if (r := model.rows.get(k)) is not None)
            elif kind == "readAt":
                v = max(1, model.version - 2)
                op["version"] = v
                op["expect"] = model.digests[v]
            elif kind == "vacuum":
                op["retain"] = p["vacuum_retain"]
            if kind in ("append", "mergeCoW", "upsertBatch", "deleteWhere",
                        "updateWhere"):
                model.commit()
                if "rows" in op:
                    op["changed_rows"] = \
                        len(op["rows"]) + len(op.get("remove", []))
            op["version_after"] = model.version
            op["table_after"] = model.digests[model.version]
            ops.append(op)
    with open(os.path.join(out, "ops.jsonl"), "w") as f:
        for op in ops:
            f.write(json.dumps(op) + "\n")
    return {"rows": n, "ops": len(ops), "params": p}


GENERATORS = {
    "text-index": gen_text_index,
    "curation": gen_curation,
    "table-lifecycle": gen_table_lifecycle,
}
