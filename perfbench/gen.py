"""Seeded CloudFront real-time-log generator (wire format, 40 TSV fields).

Runs as its own process so the engine under test only ever sees the files it
writes. Each file is written under a hidden temporary name and renamed into
the watch directory, so the streaming file source never lists a half-written
file. What each file holds is appended to ``tallies.jsonl`` in the tally
directory: line count, and per edge location the row count and the sum of
``sc-bytes`` -- the reference the benchmark checks the sink against.

Content per line:

- ``x-edge-location`` Zipf-skewed over 60 edges;
- ``sc-status`` drawn from a fixed mix dominated by 200/304/404;
- ``sc-bytes`` Pareto-distributed (shape 1.2, heavy tail);
- ~1% of lines repeat the previous line's ``x-edge-request-id``;
- ~2% of lines carry ``-`` sentinels (in ``sc-bytes`` for a quarter of those)
  and ~0.5% are truncated after field 14, so the parser's permissive paths run.

Usage::

    python3 gen.py --seed 7 --watch W --tallies T --t0 EPOCH \\
                   --files 60 --lines 2500 --tick 0.5

File ``i`` is written at ``t0 + i * tick`` (open loop: the schedule never
waits for the engine; files already due are written at once) and every line
of it is stamped with that due time. Lines depend only on (seed, file index,
due time), so the same arguments give byte-identical files.
"""

from __future__ import annotations

import argparse
import json
import os
import random
import sys
import time

N_FIELDS = 40
#: wire positions (schema.CF_FIELDS order) of the tallied fields
SC_BYTES, EDGE = 4, 10
#: a truncated line keeps fields [0, TRUNCATE_AT) intact, so the tallied
#: fields (timestamp, sc-bytes, edge) always survive
TRUNCATE_AT = 14

EDGES = [f"{code}{n}-C{k}" for code in
         ("IAD", "DFW", "SFO", "LHR", "FRA", "NRT", "SIN", "GRU", "SYD", "CDG")
         for n, k in ((50, 1), (89, 2), (12, 3), (3, 1), (61, 2), (7, 3))]
EDGE_WEIGHTS = [1.0 / (r + 1) ** 1.1 for r in range(len(EDGES))]
STATUSES = [200, 304, 404, 206, 301, 302, 403, 500, 503]
STATUS_WEIGHTS = [82, 7, 4, 2, 1.5, 1.5, 1, 0.5, 0.5]
METHODS = ["GET", "GET", "GET", "GET", "HEAD", "POST"]
URIS = [f"/assets/{kind}/{i:04d}.{ext}" for kind, ext in
        (("img", "jpg"), ("js", "js"), ("css", "css"), ("video", "mp4"))
        for i in range(50)]
AGENTS = ["Mozilla/5.0%20(X11;%20Linux%20x86_64)",
          "Mozilla/5.0%20(Macintosh;%20Intel%20Mac%20OS%20X%2010_15_7)",
          "curl/8.4.0", "okhttp/4.12.0"]
COUNTRIES = ["US", "DE", "JP", "BR", "IN", "GB", "FR", "SG"]
CONTENT_TYPE = {u: t for u, t in zip(URIS, (
    t for t in ("image/jpeg", "text/javascript", "text/css", "video/mp4")
    for _ in range(50)))}
HEADERS = "Host:d1.example.net%0AUser-Agent:curl%0AAccept:*/*%0A"
HEADER_NAMES = "Host%0AUser-Agent%0AAccept%0A"


def file_name(idx: int) -> str:
    return f"part-{idx:06d}.log"


def make_file(seed: int, idx: int, due: float, n_lines: int) -> tuple[str, dict]:
    """Text of file ``idx`` plus its tally. Seeded per (seed, idx), so files
    can be produced in any order and still match."""
    rng = random.Random(seed * 1_000_003 + idx)
    ts = f"{due:.3f}"
    edges = rng.choices(EDGES, EDGE_WEIGHTS, k=n_lines)
    statuses = rng.choices(STATUSES, STATUS_WEIGHTS, k=n_lines)
    lines = []
    by_edge: dict[str, list[int]] = {}
    prev_id = None
    for i in range(n_lines):
        sc_bytes = min(int(rng.paretovariate(1.2) * 400), 50_000_000)
        req_id = (prev_id if prev_id is not None and rng.random() < 0.01
                  else f"{rng.getrandbits(64):016x}{seed:04x}{idx:06x}{i:05x}")
        prev_id = req_id
        uri = rng.choice(URIS)
        toks = [
            ts,
            f"10.{rng.randrange(256)}.{rng.randrange(256)}.{rng.randrange(256)}",
            f"{rng.random() * 0.2:.3f}",
            str(statuses[i]),
            str(sc_bytes),
            rng.choice(METHODS),
            "https",
            "d1.example.net",
            uri,
            str(rng.randrange(100, 900)),
            edges[i],
            req_id,
            "www.example.com",
            f"{rng.random() * 0.5:.3f}",
            "HTTP/2.0", "IPv4", rng.choice(AGENTS), "-", "-", "-",
            "Hit" if statuses[i] in (200, 206, 304) else "Error",
            "-", "TLSv1.3", "TLS_AES_128_GCM_SHA256",
            "Hit" if statuses[i] in (200, 206, 304) else "Error",
            "-", "-", CONTENT_TYPE[uri],
            str(sc_bytes), "-", "-", str(rng.randrange(1024, 65535)),
            "Hit", rng.choice(COUNTRIES), "gzip", "*/*", "*",
            HEADERS, HEADER_NAMES, "3",
        ]
        roll = rng.random()
        if roll < 0.02:
            for pos in rng.sample(range(12, N_FIELDS), 3):
                toks[pos] = "-"
            if roll < 0.005:
                toks[SC_BYTES] = "-"
        elif roll < 0.025:
            toks = toks[:rng.randrange(TRUNCATE_AT, N_FIELDS)]
        lines.append("\t".join(toks))
        tally = by_edge.setdefault(edges[i], [0, 0])
        tally[0] += 1
        if toks[SC_BYTES] != "-":
            tally[1] += sc_bytes
    return "\n".join(lines) + "\n", {
        "file": file_name(idx), "idx": idx, "due": due, "lines": n_lines,
        "by_edge": {e: {"rows": c, "sc_bytes": b} for e, (c, b) in sorted(by_edge.items())},
    }


def write_file(watch: str, idx: int, text: str) -> None:
    tmp = os.path.join(watch, f".{file_name(idx)}.tmp")
    with open(tmp, "w") as f:
        f.write(text)
    os.rename(tmp, os.path.join(watch, file_name(idx)))


def main(argv: list[str]) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--watch", required=True)
    ap.add_argument("--tallies", required=True)
    ap.add_argument("--t0", type=float, required=True)
    ap.add_argument("--files", type=int, required=True)
    ap.add_argument("--lines", type=int, required=True)
    ap.add_argument("--tick", type=float, default=0.5)
    a = ap.parse_args(argv)
    os.makedirs(a.watch, exist_ok=True)
    os.makedirs(a.tallies, exist_ok=True)
    with open(os.path.join(a.tallies, "tallies.jsonl"), "a") as out:
        for idx in range(a.files):
            due = a.t0 + idx * a.tick
            text, tally = make_file(a.seed, idx, due, a.lines)
            wait = due - time.time()
            if wait > 0:
                time.sleep(wait)
            write_file(a.watch, idx, text)
            # how late the generator ran against its schedule
            tally["late_s"] = time.time() - due
            out.write(json.dumps(tally) + "\n")
            out.flush()
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
