"""Seeded input generation for the benchmark workloads.

Everything the program under test receives is made here, from the run's
``--seed``, before any timed region. The corpus is cached under the
checkout's ``.perfbench/cache`` keyed by its spec, seed and generator version,
so each seed's corpus is generated once per checkout and both workloads
crawl the same corpus.

The crawl corpus generator is a copy of the algorithm the repository's own
frontier bench uses (``bench.py``), kept here so that a change to the
program cannot change the benchmark's inputs. With bench.py's default spec
(400k pages, 128 hosts, seed 1234) it writes the same pages as bench.py.
"""

from __future__ import annotations

import bisect
import os
import random
import shutil

# Bump when a generator changes what it writes: cached inputs are keyed on it.
GENERATOR_VERSION = 1
CACHE_KEEP = 8  # cached input sets kept per checkout (oldest evicted first)

# The corpus of the frontier bench's "default" spec (bench.py
# SPECS["default"]: 400k pages, 128 hosts, 12k seeds) at half the pages and
# hosts, so that a run with its set-ups fits the benchmark's time budget;
# and a tiny corpus for the harness self-test.
CORPUS_SPECS = {
    "full": dict(n_pages=200_000, n_hosts=64, zipf_s=1.1, fanout=10,
                 n_seeds=12_000),
    "tiny": dict(n_pages=3_000, n_hosts=12, zipf_s=1.1, fanout=6, n_seeds=60),
}

_WORDS = (
    "spark frontier crawl queue shuffle partition bloom filter seen docid "
    "politeness robots depth priority anchor media span fetch parse link"
).split()


# ----------------------------------------------------------------- caching


def _cached(cache_root: str, key: str, build) -> str:
    """Directory holding the input set ``key``; ``build(tmp_dir)`` fills it
    on a miss. The set is published by one rename, so a killed build never
    leaves a half-written input behind."""
    final = os.path.join(cache_root, key)
    if os.path.exists(os.path.join(final, "_DONE")):
        os.utime(final)
        return final
    tmp = f"{final}.tmp-{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    build(tmp)
    open(os.path.join(tmp, "_DONE"), "w").close()
    shutil.rmtree(final, ignore_errors=True)
    os.replace(tmp, final)
    sets = sorted((os.path.join(cache_root, d) for d in os.listdir(cache_root)
                   if ".tmp-" not in d), key=os.path.getmtime)
    for old in sets[:-CACHE_KEEP]:
        shutil.rmtree(old, ignore_errors=True)
    return final


# ------------------------------------------------------------ crawl corpus


def _host_bounds(n_hosts: int, n_pages: int, s: float) -> list[int]:
    weights = [1.0 / (i + 1) ** s for i in range(n_hosts)]
    total = sum(weights)
    counts = [max(2, int(round(n_pages * w / total))) for w in weights]
    counts[0] += n_pages - sum(counts)
    bounds, acc = [], 0
    for c in counts:
        bounds.append(acc)
        acc += c
    bounds.append(acc)
    return bounds


def _url_for(i: int, bounds: list[int]) -> str:
    h = bisect.bisect_right(bounds, i) - 1
    j = i - bounds[h]
    if j % 9 == 4:
        path = f"/private/p{j}.html"
    elif j % 3 == 0:
        path = f"/a/b/p{j}.html"
    else:
        path = f"/p{j}.html"
    return f"http://host{h}.example.com{path}"


def _page_rows(seed: int, ids, bounds: list[int], fanout: int,
               cross_host: float = 0.25) -> list[tuple]:
    """Corpus rows for page ids ``ids``; page i depends only on (seed, i)."""
    total = bounds[-1]
    rows = []
    for i in ids:
        i = int(i)
        rng = random.Random((seed << 34) ^ i)
        url = _url_for(i, bounds)
        h = bisect.bisect_right(bounds, i) - 1
        r = rng.random()
        if r < 0.05:  # redirect
            target = _url_for(rng.randrange(total), bounds)
            rows.append((url, [], rng.choice([301, 302, 307]), target,
                         "text/html", 0, None))
            continue
        if r < 0.10:  # binary
            rows.append((url, [], 200, None,
                         rng.choice(["image/png", "application/pdf"]),
                         rng.randrange(1000, 50_000), None))
            continue
        if r < 0.11:  # over the download size limit
            rows.append((url, [], 200, None, "text/html; charset=UTF-8",
                         2_000_000, None))
            continue
        spans = [{"kind": "text", "text": " ".join(rng.sample(_WORDS, 4)) + " ",
                  "media_ref": None, "offset": 0}]
        for off in range(1, fanout + 1):
            if rng.random() < cross_host:
                t = rng.randrange(total)
            else:
                t = rng.randrange(bounds[h], bounds[h + 1])
            href = _url_for(t, bounds)
            if rng.random() < 0.10:
                href += "?b=2&a=1&jsessionid=Z"
            kind = rng.choices(["a", "img", "iframe", "link", "meta"],
                               weights=[70, 15, 5, 5, 5])[0]
            anchor = (" ".join(rng.sample(_WORDS, 2))
                      if kind in ("a", "link") else None)
            spans.append({"kind": kind, "text": anchor, "media_ref": href,
                          "offset": off})
        rows.append((url, spans, 200, None, "text/html; charset=UTF-8",
                     64 * len(spans), None))
    return rows


def _corpus_schema():
    import pyarrow as pa

    span = pa.struct([("kind", pa.string()), ("text", pa.string()),
                      ("media_ref", pa.string()), ("offset", pa.int32())])
    return pa.schema([
        ("doc_id", pa.string()), ("spans", pa.list_(span)),
        ("status_code", pa.int32()), ("redirect_to", pa.string()),
        ("content_type", pa.string()), ("content_length", pa.int64()),
        ("content_data", pa.binary()),
    ])


def _write_chunk(task: tuple) -> None:
    """Pool task: write pages [lo, hi) as one parquet file."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    path, seed, lo, hi, bounds, fanout = task
    schema = _corpus_schema()
    cols = list(zip(*_page_rows(seed, range(lo, hi), bounds, fanout)))
    pq.write_table(pa.Table.from_arrays(
        [pa.array(c, f.type) for c, f in zip(cols, schema)], schema=schema),
        path)


def corpus_dir(cache_root: str, scale: str, seed: int, procs: int) -> str:
    """Directory of the corpus parquet files for ``seed``, generated on a
    cache miss by ``procs`` worker processes (no Spark involved, so the
    generator's memory and time stay out of the measured run)."""
    import multiprocessing

    spec = CORPUS_SPECS[scale]
    bounds = _host_bounds(spec["n_hosts"], spec["n_pages"], spec["zipf_s"])
    total = bounds[-1]

    def build(tmp: str) -> None:
        n = 16
        tasks = [(os.path.join(tmp, f"part-{k:05d}.parquet"), seed,
                  total * k // n, total * (k + 1) // n, bounds, spec["fanout"])
                 for k in range(n)]
        # fork, not spawn: the caller has no threads yet, and a spawn pool
        # starts a resource tracker process that outlives the pool
        with multiprocessing.get_context("fork").Pool(procs) as pool:
            pool.map(_write_chunk, tasks)
            pool.close()
            pool.join()

    key = "crawl-{n_pages}p-{n_hosts}h-{zipf_s}z-{fanout}f-s{seed}-v{v}".format(
        seed=seed, v=GENERATOR_VERSION, **spec)
    return _cached(cache_root, key, build)


def robots_and_seeds(scale: str) -> tuple[list[tuple], list[dict]]:
    """(host, robots.txt body) rows and the seed list; pure functions of the
    corpus spec."""
    spec = CORPUS_SPECS[scale]
    bounds = _host_bounds(spec["n_hosts"], spec["n_pages"], spec["zipf_s"])
    robots = []
    for h in range(spec["n_hosts"]):
        if h % 5 == 3:
            continue  # no robots.txt: allow all
        body = ("User-agent: crawler4j\nDisallow: /private/\n" if h % 2 == 0
                else "User-agent: *\nDisallow: /\n")
        robots.append((f"host{h}.example.com", body))
    step = max(1, bounds[-1] // spec["n_seeds"])
    seeds = [{"url": _url_for(i, bounds), "priority": 0,
              "doc_id_override": None} for i in range(0, bounds[-1], step)]
    return robots, seeds
