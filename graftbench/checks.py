"""Output checks for graftbench runs, made apart from the program.

Each check returns a list of error strings; an empty list means the outputs
are correct. The relay records are compared with the generator's own
derivation of them as a multiset digest, computed the same way as the
harness's `RecordDigest`: per record the text
    name \\x1f time \\x1f value \\x1f sorted "k=v" labels joined by \\x1e
(value = the IEEE-754 bits of the number as a signed decimal, or "null"),
SHA-1, first 8 bytes big-endian, summed modulo 2^64. Values are parsed as
numbers, so "42" and "42.0" are the same record.
"""
import glob
import hashlib
import json
import math
import multiprocessing
import os
import struct
import subprocess
import sys

MAX_ENTRIES = 500
MAX_BYTES = 4_500_000
CHECK_PY = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                        "tools", "check.py")


def record_hash(name, time, value, labels):
    if value is None:
        v = "null"
    else:
        v = str(struct.unpack("<q", struct.pack("<d", float(value)))[0])
    ls = "\x1e".join(f"{k}={labels[k]}" for k in sorted(labels))
    h = hashlib.sha1(f"{name}\x1f{time}\x1f{v}\x1f{ls}".encode("utf-8")).digest()
    return int.from_bytes(h[:8], "big")


def digest(records):
    """(count, digest) of an iterable of (name, time, value, labels)."""
    n = s = 0
    for r in records:
        n += 1
        s = (s + record_hash(*r)) % (1 << 64)
    return n, s


def sink_chunks(sink_dir):
    """Every published chunk of a Kinesis-style file sink: (data, keys sidecar)."""
    for path in sorted(glob.glob(os.path.join(sink_dir, "**", "*.jsonl"), recursive=True)):
        d, f = os.path.split(path)
        yield path, os.path.join(d, f".{f}.keys")


def _check_chunk(paths):
    """(records, digest, errors) of one published chunk and its keys sidecar."""
    path, keys_path = paths
    errors = []
    data = open(path, "rb").read()
    lines = data.decode("utf-8").splitlines()
    if not os.path.exists(keys_path):
        errors.append(f"{path}: no keys sidecar")
        keys = []
    else:
        keys = [json.loads(k) for k in open(keys_path, encoding="utf-8").read().splitlines()]
    key_bytes = sum(len(k.encode("utf-8")) for k in keys if k is not None)
    if len(lines) > MAX_ENTRIES:
        errors.append(f"{path}: {len(lines)} entries > {MAX_ENTRIES}")
    if len(data) + key_bytes > MAX_BYTES:
        errors.append(f"{path}: {len(data) + key_bytes} bytes > {MAX_BYTES}")
    if len(keys) != len(lines):
        errors.append(f"{path}: {len(keys)} keys for {len(lines)} records")
    try:
        records = json.loads("[" + ",".join(lines) + "]")
    except ValueError as e:
        return 0, 0, errors + [f"{path}: not JSON lines: {e}"]
    for k, r in zip(keys, records):
        if k != r["name"]:
            errors.append(f"{path}: key {k!r} != record name {r['name']!r}")
            break
    n, s = digest((r["name"], r["time"], r["value"], r["labels"]) for r in records)
    return n, s, errors


def check_relay_sink(sink_dir, expect):
    # the chunks are checked in parallel: a run delivers up to ~10^6 records
    with multiprocessing.Pool(min(4, os.cpu_count() or 1)) as pool:
        parts = pool.map(_check_chunk, list(sink_chunks(sink_dir)), chunksize=8)
    errors = [e for _, _, es in parts for e in es]
    n = sum(p[0] for p in parts)
    s = sum(p[1] for p in parts) % (1 << 64)
    if n != expect["records"]:
        errors.append(f"sink holds {n} records, expected {expect['records']}")
    if s != int(expect["records_digest"]):
        errors.append(f"sink record digest {s} != expected {expect['records_digest']}")
    return errors


def check_http(expect):
    errors = []
    if expect["valid_200"] != expect["valid_sent"]:
        errors.append(f"{expect['valid_200']} of {expect['valid_sent']} valid bodies got 200")
    if expect["corrupt_400"] != expect["corrupt_sent"]:
        errors.append(f"{expect['corrupt_400']} of {expect['corrupt_sent']} corrupt bodies got 400")
    if expect["body_files"] != expect["valid_200"]:
        errors.append(f"{expect['body_files']} body files for {expect['valid_200']} accepted bodies")
    return errors


def check_rate(out_dir, expect):
    """Latest row per series of the `rate` update log, summed."""
    latest = {}
    for path in glob.glob(os.path.join(out_dir, "*.json")):
        for line in open(path, encoding="utf-8"):
            r = json.loads(line)
            k = (r["name"], r["user_id"])
            if k not in latest or r["n_samples"] > latest[k]["n_samples"]:
                latest[k] = r
    errors = []
    totals = {"n_samples": 0, "n_resets": 0, "total_increase": 0.0}
    for k, r in latest.items():
        if r["n_late"] != 0:
            errors.append(f"series {k}: n_late={r['n_late']}")
        for f in totals:
            v = r[f]
            if not (isinstance(v, (int, float)) and math.isfinite(v) and v == int(v)):
                errors.append(f"series {k}: {f}={v!r} is not a finite whole number")
                continue
            totals[f] += v
    for f, v in totals.items():
        if v != expect[f"rate_{f}"]:
            errors.append(f"rate {f} sums to {v}, expected {expect[f'rate_{f}']}")
    return errors


def check_oracle(results_dir, tables_dir):
    """Each result parquet equals DuckDB running the oracle SQL over the same
    tables, under the repo's own oracle compare, tools/check.py: column
    names and types, and values as a multiset, doubles bit for bit. Returns
    its FAIL lines, with their detail lines."""
    p = subprocess.run([sys.executable, CHECK_PY, tables_dir, results_dir],
                       stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    errors, failing = [], False
    for line in p.stdout.splitlines():
        if line.startswith("FAIL"):
            failing = True
            errors.append(line)
        elif failing and line.startswith(" "):
            errors[-1] += " |" + line.strip()
        else:
            failing = False
    if p.returncode != 0 and not errors:
        errors.append(f"tools/check.py exited with {p.returncode}: {p.stdout[-2000:]}")
    return errors


def check_workload(workload, work, expect, tables):
    if workload == "analytics_sf01":
        return check_oracle(os.path.join(work, "results"), tables)
    errors = check_http(expect) + check_relay_sink(os.path.join(work, "sink"), expect)
    if workload == "remote_write_wide":
        errors += check_rate(os.path.join(work, "rate-out"), expect)
    return errors
