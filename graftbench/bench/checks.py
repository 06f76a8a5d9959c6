"""Output checks. Each returns per-call counts of wrong or missing
outcomes, which feed `failed` and `fail_ratio`."""
import glob
import json
import os
import tarfile

import pyarrow.parquet as pq

SIDE = 256


def jpeg_size(data):
    """(width, height) from a JPEG's start-of-frame marker, or None."""
    if data[:2] != b"\xff\xd8":
        return None
    i = 2
    while i + 9 < len(data):
        if data[i] != 0xFF:
            return None
        marker = data[i + 1]
        if marker == 0xFF:
            i += 1
            continue
        seg = int.from_bytes(data[i + 2:i + 4], "big")
        if 0xC0 <= marker <= 0xCF and marker not in (0xC4, 0xC8, 0xCC):
            h = int.from_bytes(data[i + 5:i + 7], "big")
            w = int.from_bytes(data[i + 7:i + 9], "big")
            return w, h
        i += 2 + seg
    return None


def read_expected(path):
    exp = {}
    with open(path) as f:
        for line in f:
            url, status, sha = line.rstrip("\n").split("\t")
            exp[url] = (status, sha)
    return exp


def expected_totals(exp):
    statuses = [s for s, _ in exp.values()]
    return {"count": len(statuses), "successes": statuses.count("success"),
            "failed_to_download": statuses.count("failed_to_download"),
            "failed_to_resize": statuses.count("failed_to_resize")}


def counter_misses(call, totals):
    """Lower bound on wrong outcomes from one call's returned counters."""
    return max(abs(call.get(k, 0) - v) for k, v in totals.items())


def check_output(out_dir, exp, fmt):
    """Wrong or missing outcomes in a pipeline output directory, and a
    list of reasons. Every URL must appear once with its expected
    status; every success must be 256x256 with the served bytes'
    sha256; tar members and `_stats.json` totals must agree."""
    problems = []
    rows = []
    for p in sorted(glob.glob(os.path.join(out_dir, "*.parquet"))):
        rows.extend(pq.read_table(p).to_pylist())
    seen = {}
    for r in rows:
        seen.setdefault(r["url"], []).append(r)
    wrong = set()
    for url, (status, sha) in exp.items():
        got = seen.get(url, [])
        if len(got) != 1:
            wrong.add(url)
            problems.append(f"{url}: {len(got)} rows")
            continue
        r = got[0]
        if r["status"] != status:
            wrong.add(url)
            problems.append(f"{url}: status {r['status']} != {status}")
        elif status == "success":
            if r.get("sha256") != sha or (r.get("width"), r.get("height")) != (SIDE, SIDE):
                wrong.add(url)
                problems.append(f"{url}: sha256/size mismatch")
            elif fmt == "parquet" and jpeg_size(r.get("jpg") or b"") != (SIDE, SIDE):
                wrong.add(url)
                problems.append(f"{url}: payload is not a {SIDE}x{SIDE} jpeg")
    extra = set(seen) - set(exp)
    if extra:
        problems.append(f"{len(extra)} unexpected urls")
    success_keys = {r["key"]: r["url"] for r in rows if r["status"] == "success"}
    if fmt == "webdataset":
        members = {}
        for p in sorted(glob.glob(os.path.join(out_dir, "*.tar"))):
            with tarfile.open(p) as t:
                for m in t.getmembers():
                    if m.name.endswith(".jpg"):
                        members[m.name[:-4]] = t.extractfile(m).read()
        if len(members) != len(success_keys):
            problems.append(f"tar jpg members {len(members)} != successes {len(success_keys)}")
        for key, url in success_keys.items():
            if jpeg_size(members.get(key, b"")) != (SIDE, SIDE):
                wrong.add(url)
                problems.append(f"{url}: tar member {key}.jpg missing or not {SIDE}x{SIDE}")
    totals = {"count": 0, "successes": 0, "failed_to_download": 0, "failed_to_resize": 0}
    for p in glob.glob(os.path.join(out_dir, "*_stats.json")):
        with open(p) as f:
            st = json.load(f)
        for k in totals:
            totals[k] += st[k]
    want = expected_totals(exp)
    if totals != want:
        problems.append(f"_stats.json totals {totals} != {want}")
    # A failed structural check with no per-url culprit still fails the run.
    n_wrong = len(wrong) + (1 if problems and not wrong else 0)
    return n_wrong, problems


def check_pipeline(rec):
    """Per-call wrong counts: counters for every call, the full output
    check for the last call (its output is what the directory holds)."""
    exp = read_expected(rec["expected"])
    totals = expected_totals(exp)
    wrong = [counter_misses(c, totals) for c in rec["calls"]]
    n_out, problems = check_output(rec["out_dir"], exp, rec["format"])
    if wrong:
        wrong[-1] = max(wrong[-1], n_out)
    return wrong, problems


def check_queries(rec, goldens):
    """1 for each call that raised or whose digest differs from its golden."""
    wrong, problems = [], []
    for c in rec["calls"]:
        g = goldens.get(c["name"])
        if not c["ok"]:
            wrong.append(1)
            problems.append(f"{c['name']}: {c.get('error', 'failed')[:300]}")
        elif g is None:
            wrong.append(1)
            problems.append(f"{c['name']}: no golden")
        elif g["digest"] != c["digest"] or g["rows"] != c["rows"]:
            wrong.append(1)
            problems.append(f"{c['name']}: digest {c['digest'][:12]} rows {c['rows']} != golden "
                            f"{g['digest'][:12]} rows {g['rows']} ({g['source']})")
        else:
            wrong.append(0)
    return wrong, problems
