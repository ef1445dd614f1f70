"""Seeded input generators for the benchmark workloads.

Every generator is a pure function of its seed and size: the same
arguments give byte-identical files. The expected answers are computed
here, from the generated records, independently of the engine:

- ``access_spool``: nginx-style access lines plus a small share of
  malformed lines, with the per-route counts the ``parse_route`` pipeline
  must deliver;
- ``app_log_backlog``: JSON app-log files with event times, with the
  per-window counts the tail drain of ``query_mix`` must emit once throttled;
- ``tables``: the ``events`` / ``documents`` / ``lineitem`` parquet tables
  (schemas of the registry's test data) read by ``query_mix``.

Outputs are cached under the work directory, keyed by (name, seed, size);
the least recently used entries beyond ``CACHE_ENTRIES`` are removed.
"""

from __future__ import annotations

import datetime as dt
import json
import os
import random
import shutil

import numpy as np

CACHE_ENTRIES = 16


def _hit(out: str) -> None:
    """Mark a cached entry as used, so trimming keeps it."""
    os.utime(out)


def _publish(tmp: str, out: str) -> None:
    """Move a finished entry into place and trim the cache."""
    shutil.rmtree(out, ignore_errors=True)
    os.rename(tmp, out)
    root = os.path.dirname(out)
    entries = sorted(
        (os.path.join(root, e) for e in os.listdir(root) if not e.endswith(".tmp")),
        key=os.path.getmtime,
    )
    for old in entries[:-CACHE_ENTRIES]:
        shutil.rmtree(old, ignore_errors=True)


# ---------------------------------------------------------------------------
# parse_route: access lines
# ---------------------------------------------------------------------------
PATHS = [
    "/", "/index.html", "/login", "/logout", "/search?q=spark", "/cart",
    "/api/v1/users", "/api/v1/orders", "/api/v1/items/42", "/static/app.js",
    "/static/site.css", "/img/logo.png", "/healthz",
]
METHODS = ["GET"] * 7 + ["POST"] * 2 + ["PUT", "DELETE", "HEAD"]
STATUSES = [200] * 14 + [201, 204, 301, 302, 304, 400, 401, 403, 404, 404, 500, 502, 503]
AGENTS = [
    "Mozilla/5.0 (X11; Linux x86_64) Gecko/20100101 Firefox/128.0",
    "Mozilla/5.0 (Macintosh; Intel Mac OS X 14_5) Safari/605.1.15",
    "curl/8.5.0",
    "Go-http-client/1.1",
    "kube-probe/1.30",
]
REFERERS = ["-", "https://example.com/", "https://example.com/search", "https://news.example.org/"]
MONTHS = "Jan Feb Mar Apr May Jun Jul Aug Sep Oct Nov Dec".split()
MALFORMED_SHARE = 0.02

# Route -> predicate over one well-formed record. Must mirror the
# [FILTER]/[OUTPUT] sections of workloads.PARSE_ROUTE_CONF.
ROUTES = {
    "access.*": lambda path, code: not path.startswith("/healthz") and code // 100 != 5,
    "errors.*": lambda path, code: not path.startswith("/healthz") and code // 100 == 5,
    "*": lambda path, code: not path.startswith("/healthz"),
    "*+": lambda path, code: not path.startswith("/healthz"),
}


def _clf_time(t: dt.datetime) -> str:
    return f"{t.day:02d}/{MONTHS[t.month - 1]}/{t.year}:{t:%H:%M:%S} +0000"


def access_spool(work: str, seed: int, n_lines: int, n_files: int) -> dict:
    """Write ``n_files`` text files of access lines; return their directory and
    the expected per-route delivered counts."""
    out = os.path.join(work, "inputs", f"access-{seed}-{n_lines}-{n_files}")
    meta_path = os.path.join(out, "expected.json")
    if os.path.exists(meta_path):
        _hit(out)
        with open(meta_path) as f:
            return json.load(f)
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(os.path.join(tmp, "logs"))
    rng = random.Random(seed)
    t0 = dt.datetime(2026, 1, 1, tzinfo=dt.timezone.utc)
    counts = dict.fromkeys(ROUTES, 0)
    malformed = 0
    per_file = -(-n_lines // n_files)
    for fi in range(n_files):
        lines = []
        for i in range(fi * per_file, min(n_lines, (fi + 1) * per_file)):
            t = t0 + dt.timedelta(milliseconds=i * 37)
            ip = f"10.{rng.randrange(256)}.{rng.randrange(256)}.{rng.randrange(1, 255)}"
            path = rng.choice(PATHS)
            code = rng.choice(STATUSES)
            size = rng.randrange(0, 50_000)
            line = (
                f'{ip} - - [{_clf_time(t)}] "{rng.choice(METHODS)} {path} HTTP/1.1" '
                f'{code} {size} "{rng.choice(REFERERS)}" "{rng.choice(AGENTS)}"'
            )
            if rng.random() < MALFORMED_SHARE:
                # a line cut before its closing bracket can never match
                line = line[: rng.randrange(8, line.index("]"))]
                malformed += 1
            else:
                for route, pred in ROUTES.items():
                    counts[route] += pred(path, code)
            lines.append(line)
        with open(os.path.join(tmp, "logs", f"part-{fi:03d}.log"), "w") as f:
            f.write("\n".join(lines) + "\n")
    meta = {
        "dir": os.path.join(out, "logs"),
        "lines": n_lines,
        "malformed": malformed,
        "expected": counts,
    }
    with open(os.path.join(tmp, "expected.json"), "w") as f:
        json.dump(meta, f)
    _publish(tmp, out)
    return meta


# ---------------------------------------------------------------------------
# query_mix tail drain: JSON app logs with event times
# ---------------------------------------------------------------------------
SERVICES = ["api", "auth", "billing", "search", "web"]
LEVELS = ["info"] * 6 + ["debug"] * 2 + ["warn", "error"]
THROTTLE_RATE = 45  # admitted records per service per second
WINDOW_SEC = 10
WATERMARK_SEC = 30


def app_log_backlog(work: str, seed: int, n_records: int, n_files: int) -> dict:
    """Write ``n_files`` JSON-lines files whose event times increase across
    files; return their directory and the expected per-(service, window)
    counts after the throttle (first ``THROTTLE_RATE`` records per service
    per second pass)."""
    out = os.path.join(work, "inputs", f"applog-{seed}-{n_records}-{n_files}")
    meta_path = os.path.join(out, "expected.json")
    if os.path.exists(meta_path):
        _hit(out)
        with open(meta_path) as f:
            return json.load(f)
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(os.path.join(tmp, "logs"))
    rng = np.random.default_rng(seed)
    # Poisson arrivals, ~200 records/s overall: bursts exceed the throttle
    gaps_us = rng.exponential(5_000, n_records).astype(np.int64) + 1
    t_us = 1_767_225_600_000_000 + np.cumsum(gaps_us)  # 2026-01-01T00:00Z
    svc = rng.integers(0, len(SERVICES), n_records)
    lvl = rng.integers(0, len(LEVELS), n_records)
    lat = rng.integers(1, 2_000, n_records)
    sec = t_us // 1_000_000
    # throttle: per (service, second) pane, the first RATE records pass
    pane_keys, pane_n = np.unique(svc * 10**11 + sec, return_counts=True)
    admitted_per_pane = np.minimum(pane_n, THROTTLE_RATE)
    windows: dict[str, int] = {}
    for key, n in zip(pane_keys.tolist(), admitted_per_pane.tolist()):
        s, second = divmod(key, 10**11)
        w = second - second % WINDOW_SEC
        k = f"{SERVICES[s]}|{w}"
        windows[k] = windows.get(k, 0) + n
    per_file = -(-n_records // n_files)
    base_mtime = 1_700_000_000
    for fi in range(n_files):
        lo, hi = fi * per_file, min(n_records, (fi + 1) * per_file)
        rows = []
        for i in range(lo, hi):
            t = dt.datetime.fromtimestamp(int(t_us[i]) / 1e6, dt.timezone.utc)
            rows.append(json.dumps({
                "time": t.strftime("%Y-%m-%dT%H:%M:%S.") + f"{t.microsecond // 1000:03d}Z",
                "service": SERVICES[svc[i]],
                "level": LEVELS[lvl[i]],
                "msg": f"request {i} served",
                "latency_ms": int(lat[i]),
            }))
        path = os.path.join(tmp, "logs", f"app-{fi:04d}.json")
        with open(path, "w") as f:
            f.write("\n".join(rows) + "\n")
        # the file source orders files by mtime: keep it = event order
        os.utime(path, (base_mtime + fi, base_mtime + fi))
    meta = {
        "dir": os.path.join(out, "logs"),
        "records": n_records,
        "files": n_files,
        "max_event_s": int(t_us[-1] // 1_000_000),
        "windows": windows,
    }
    with open(os.path.join(tmp, "expected.json"), "w") as f:
        json.dump(meta, f)
    _publish(tmp, out)
    return meta


# ---------------------------------------------------------------------------
# query_mix: registry-shaped parquet tables
# ---------------------------------------------------------------------------
VOCAB = (
    "spark line column order small sort fast value scan hash slow group batch "
    "part agg filter query table key stream window join vector data the a "
    "customer app log index merge row big"
).split()
EVENT_TYPES = ["view", "click", "purchase", "error", "signup"]
LANGS = ["en", "en", "en", "de", "fr", "es"]


def tables(work: str, seed: int, n_events: int, n_docs: int, n_lineitem: int) -> str:
    """Write events/documents/lineitem parquet (one row group each, as
    the registry's test data); return the table directory."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    out = os.path.join(work, "inputs", f"tables-{seed}-{n_events}-{n_docs}-{n_lineitem}")
    if os.path.exists(os.path.join(out, "_DONE")):
        _hit(out)
        return out
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    rng = np.random.default_rng(seed)

    start_us = 1_704_067_200_000_000  # 2024-01-01
    span_us = 30 * 86_400 * 1_000_000
    ids = np.arange(n_events, dtype=np.int64)
    ts = start_us + ids * (span_us // n_events) + rng.integers(0, 1_000_000, n_events)
    events = pa.table({
        "event_id": ids,
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": rng.integers(0, max(1, n_events // 7), n_events),
        "event_type": pa.array(np.array(EVENT_TYPES)[rng.integers(0, 5, n_events)]),
        "value": np.round(rng.integers(0, 56_021, n_events) / 100.0, 2),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_events).tolist()]),
    })

    vocab = np.array(VOCAB)
    texts = [
        " ".join(vocab[rng.integers(0, len(VOCAB), int(n))])
        for n in rng.integers(16, 101, n_docs)
    ]
    docs = pa.table({
        "doc_id": np.arange(n_docs, dtype=np.int64),
        "text": pa.array(texts),
        "lang": pa.array(np.array(LANGS)[rng.integers(0, len(LANGS), n_docs)]),
        "source": pa.array([f"src{i}" for i in rng.integers(0, 20, n_docs).tolist()]),
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })

    n = n_lineitem
    ship_us = 946_684_800_000_000 + rng.integers(0, 2_500, n) * 86_400_000_000
    lineitem = pa.table({
        "l_orderkey": rng.integers(1, max(2, n // 4), n),
        "l_partkey": rng.integers(1, 2_000, n),
        "l_suppkey": rng.integers(1, 100, n),
        "l_linenumber": pa.array(rng.integers(1, 8, n), pa.int32()),
        "l_quantity": rng.integers(1, 51, n).astype(np.float64),
        "l_extendedprice": np.round(rng.integers(90_000, 10_500_000, n) / 100.0, 2),
        "l_discount": rng.integers(0, 11, n) / 100.0,
        "l_tax": rng.integers(0, 9, n) / 100.0,
        "l_returnflag": pa.array(np.array(["A", "N", "R"])[rng.integers(0, 3, n)]),
        "l_linestatus": pa.array(np.array(["F", "O"])[rng.integers(0, 2, n)]),
        "l_shipdate": pa.array(ship_us, pa.timestamp("us")),
    })
    for name, tbl in (("events", events), ("documents", docs), ("lineitem", lineitem)):
        pq.write_table(tbl, os.path.join(tmp, f"{name}.parquet"), row_group_size=len(tbl) + 1)
    open(os.path.join(tmp, "_DONE"), "w").close()
    _publish(tmp, out)
    return out
