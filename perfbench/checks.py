"""Output checks. Each returns (attempted, failed, messages): operations the
run attempted, and how many of them failed or produced a wrong output. A
mismatch is a defect of the program under test and is reported as such."""
import glob
import json
import os
import re
import subprocess
import sys

URI_DIRS = re.compile(r"[^\[\], ]*/")


def read_lines(out_dir):
    lines = []
    for f in sorted(glob.glob(os.path.join(out_dir, "part-*"))):
        with open(f) as fh:
            lines.extend(fh.read().splitlines())
    return lines


def text_index(rec, input_dir, work_dir):
    """Every written index, from either path, equals the generator's."""
    with open(os.path.join(input_dir, "expected_index.txt")) as f:
        expected = f.read().splitlines()
    attempted = failed = 0
    msgs = []
    for s in rec.spans:
        if s["phase"] not in ("settle", "measure") or s["name"] == "pass":
            continue
        attempted += 1
        if not s["ok"]:
            failed += 1
            msgs.append(f"{s['name']} pass {s['pass']} failed: {s['error']}")
            continue
        if s["name"] == "api.MRJob.invertedIndex":
            # `key<TAB>word -> [file:/.../docNN.txt, ...]`: keep the value,
            # file names without their directory
            got = sorted(URI_DIRS.sub("", line.split("\t", 1)[1])
                         for line in read_lines(
                             os.path.join(work_dir, "out", "mr", str(s["pass"]))))
        else:
            got = sorted(read_lines(
                os.path.join(work_dir, "out", "q2", str(s["pass"]))))
        if got != expected:
            failed += 1
            first = next((i for i, (a, b) in enumerate(zip(got, expected))
                          if a != b), min(len(got), len(expected)))
            msgs.append(f"{s['name']} pass {s['pass']}: index differs from "
                        f"the expected one at line {first} ({len(got)} vs "
                        f"{len(expected)} lines)")
    return attempted, failed, msgs


def table_lifecycle(rec, ops):
    """Every op's result digest and resulting version, and the final table,
    equal the generator's model of the op sequence."""
    attempted = failed = 0
    msgs = []
    for s in rec.spans:
        if s["phase"] not in ("warmup", "settle", "measure") or \
                "op_index" not in s["attrs"]:
            continue
        attempted += 1
        op = ops[s["attrs"]["op_index"]]
        bad = []
        if not s["ok"]:
            bad.append(f"failed: {s['error']}")
        if "expect" in op and s["attrs"].get("digest") != op["expect"]:
            bad.append(f"digest {s['attrs'].get('digest')} != {op['expect']}")
        if s["attrs"].get("version") != op["version_after"]:
            bad.append(f"version {s['attrs'].get('version')} != "
                       f"{op['version_after']}")
        if bad:
            failed += 1
            msgs.append(f"{s['name']} (op {s['attrs']['op_index']}): "
                        + "; ".join(bad))
    fin = rec.meta.get("finish") or {}
    if "final_digest" in fin:
        attempted += 1
        want = ops[fin["last_op"]]["table_after"]
        if fin["final_digest"] != want:
            failed += 1
            msgs.append(f"final table digest {fin['final_digest']} != {want}")
    return attempted, failed, msgs


def curation(rec, root, timeout):
    """Consumer results hash-match their DuckDB twins, through the repo's
    own compare tool (`tools/selfcheck.py`)."""
    fin = rec.meta.get("finish") or {}
    if "check_out" not in fin:
        return 0, 0, []
    with open(os.path.join(fin["check_out"], "oracle_sql.json")) as f:
        n = len(json.load(f))
    tool = os.path.join(root, "tools", "selfcheck.py")
    r = subprocess.run([sys.executable, tool, fin["check_in"],
                        fin["check_out"]], capture_output=True, text=True,
                       timeout=timeout)
    m = re.search(r"(\d+) pass, (\d+) fail", r.stdout)
    if not m:
        return n, n, [f"selfcheck gave no verdict: {r.stdout[-500:]}"
                      f"{r.stderr[-500:]}"]
    msgs = [line for line in r.stdout.splitlines()
            if line and not line.startswith("PASS")
            and not re.match(r"\d+ pass", line)]
    return n, int(m.group(2)), msgs
