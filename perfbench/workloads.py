"""The two workloads: ``serve`` (read-only query mix over a prebuilt
positional index) and ``churn`` (append / update / delete cycles with
fresh-reader probes, ending in one compaction).

Each workload function gets a started Spark session and a :class:`Run`,
does its set-up, runs its timed closed loop with one client, checks every
operation against :mod:`oracle`, and returns a :class:`Result` whose
``e2e`` dict carries every end-to-end metric of ``BENCHMARK.json``.
"""

from __future__ import annotations

import os
import statistics
import sys
import time
import traceback
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from corpus import LANGS, Corpus, Generator
from oracle import Oracle, check

K = 10
CLASSES = ("rare", "hot", "multi", "and", "phrase", "fq")

# serve: corpus size and how many distinct queries per class the mix holds
SERVE_DOCS = 3000
SERVE_ROUNDS = 12
SERVE_MIN_QUERIES = 18

# churn: base size and per-cycle batch sizes; at least CHURN_CYCLES cycles,
# more while --seconds has not passed, then one compaction
CHURN_DOCS = 600
CHURN_APPEND = 50
CHURN_UPDATE = 15
CHURN_DELETE = 30
CHURN_CYCLES = 2


@dataclass
class Run:
    seed: int
    seconds: float
    work: str
    tracer: object
    t_setup0: float
    session_start_s: float = 0.0
    facts: dict = field(default_factory=dict)  # filesystem/size facts


@dataclass
class Result:
    attempted: int
    failed: int
    e2e: dict
    detail: dict


def _fail(kind: str, why: str) -> None:
    print(f"# FAILED {kind}: {why}", file=sys.stderr, flush=True)


def _p50_ms(xs: list[float]) -> float:
    return 1000.0 * statistics.median(xs)


# -- serve -------------------------------------------------------------------


def serve(spark, run: Run) -> Result:
    from rdf_indexer_spark.index.bm25 import IndexReader
    from rdf_indexer_spark.index.build import build_index

    tr = run.tracer
    gen = Generator(run.seed)
    corpus = gen.corpus(SERVE_DOCS)
    docs_path = os.path.join(run.work, "docs.parquet")
    text_bytes = corpus.write_parquet(docs_path)
    mix = gen.query_mix(corpus, SERVE_ROUNDS)
    term_ids = {w: i for i, w in enumerate(corpus.vocab)}
    everyone = np.ones(corpus.n_docs, bool)
    orc = Oracle(corpus.tokens, corpus.offs, everyone, everyone, term_ids)
    de = corpus.lang == LANGS.index("de")
    for q in mix:
        terms = q["q"].split()
        if q["cls"] == "phrase":
            q["scores"] = orc.phrase(terms)
        else:
            q["scores"] = orc.bm25(terms, q.get("mode", "or"),
                                   de if "where" in q else None)

    idx = os.path.join(run.work, "index")
    docs = spark.read.parquet(docs_path)
    with tr.span("build_index"):
        t0 = time.perf_counter()
        build_index(spark, docs, idx, positions=True, meta_cols=("lang",),
                    write_postings=False, resume=False, n_docs=corpus.n_docs)
        build_s = time.perf_counter() - t0
    index_bytes = _index_facts(run, idx)

    with tr.span("reader_open"):
        reader = IndexReader(spark, idx)
    for method in ("term_stats", "fetch_blocks"):
        tr.wrap(reader, method)
    # warm the query paths once per class on the real index (untimed)
    for cls in CLASSES:
        q = next(x for x in mix if x["cls"] == cls)
        _query(reader, q, tr, warm=True)
    run.facts["setup_s"] = time.perf_counter() - run.t_setup0

    lat: dict[str, list[float]] = {c: [] for c in CLASSES}
    routes: list[str] = []
    attempted = failed = 0
    t_start = time.perf_counter()
    i = 0
    while (time.perf_counter() - t_start < run.seconds
           or i < SERVE_MIN_QUERIES):
        q = mix[i % len(mix)]
        i += 1
        attempted += 1
        # a failed operation is counted, not fatal; the client waited for
        # it either way, so its time is a latency sample too. The check
        # runs after the clock stops.
        t0 = time.perf_counter()
        try:
            got = _query(reader, q, tr)
        except Exception:
            got, why = None, traceback.format_exc(limit=3)
        lat[q["cls"]].append(time.perf_counter() - t0)
        routes.append(getattr(reader, "last_path", "driver"))
        if got is not None:
            why = check(got, q["scores"], K)
        if why:
            failed += 1
            _fail(q["cls"], f"{q['q']!r}: {why}")
    window_s = time.perf_counter() - t_start

    all_lat = [x for c in CLASSES for x in lat[c]]
    pct, tail = _tail(all_lat)
    detail = {
        "queries": len(all_lat),
        "window_s": window_s,
        "qps": len(all_lat) / window_s,
        "query_tail_pct": pct,
        "query_tail_ms": 1000.0 * tail,
        "build_s": build_s,
        "text_bytes": text_bytes,
        "route_driver_share": routes.count("driver") / max(len(routes), 1),
        **{f"q_{c}_p50_ms": _p50_ms(lat[c]) for c in CLASSES if lat[c]},
        **{f"q_{c}_n": len(lat[c]) for c in CLASSES},
    }
    e2e = {
        "setup_s": run.facts["setup_s"],
        "read_p50_ms": _p50_ms(all_lat),
        "write_docs_per_s": corpus.n_docs / build_s,
        "index_bytes_per_text_byte": index_bytes / text_bytes,
    }
    return Result(attempted, failed, e2e, detail)


def _query(reader, q: dict, tr, warm: bool = False) -> list[tuple[int, float]]:
    """One client query as a caller sees it: ``search()`` rows collected,
    or the ``search_phrase`` hit list."""
    name = "warmup" if warm else "query." + q["cls"]
    with tr.span(name) as op:
        if q["cls"] == "phrase":
            with tr.span("search_phrase"):
                hits = reader.search_phrase(q["q"], K)
            op.attrs["route"] = reader.last_path
            return hits
        with tr.span("search"):
            df = reader.search(q["q"], K, mode=q.get("mode", "or"),
                               where=q.get("where"))
        op.attrs["route"] = reader.last_path
        with tr.span("materialize"):
            rows = df.collect()
        return [(int(r["doc_id"]), float(r["score"])) for r in rows]


def _tail(xs: list[float]) -> tuple[float, float]:
    """Highest percentile with at least ten samples beyond it (nearest
    rank); the maximum when there are fewer than eleven samples."""
    s = sorted(xs)
    if len(s) < 11:
        return 100.0, s[-1]
    i = len(s) - 11
    return 100.0 * (i + 1) / len(s), s[i]


def _index_facts(run: Run, idx: str) -> int:
    sizes = {t: _dir_bytes(os.path.join(idx, t))
             for t in ("blocks", "docstore", "termstats", "stats",
                       "tombstones")}
    run.facts.setdefault("index", []).append(sizes)
    return sum(sizes.values())


def _dir_bytes(root: str) -> int:
    total = 0
    for dirpath, _, files in os.walk(root):
        total += sum(os.path.getsize(os.path.join(dirpath, f))
                     for f in files if f.endswith(".parquet"))
    return total


def _count_files(root: str) -> int:
    return sum(sum(1 for f in files if f.endswith(".parquet"))
               for _, _, files in os.walk(root))


# -- churn -------------------------------------------------------------------


class _Live:
    """The oracle's view of the index under mutation: every document ever
    added (by dense id), which ids the statistics count, which are
    visible."""

    def __init__(self, corpus: Corpus):
        self.vocab = corpus.vocab
        self.term_ids = {w: i for i, w in enumerate(corpus.vocab)}
        self.docs = [corpus.doc_tokens(d) for d in range(corpus.n_docs)]
        self.tombstoned: set[int] = set()
        self.compacted = False
        self.wlen = np.fromiter((len(w) + 1 for w in corpus.vocab),
                                np.int64, len(corpus.vocab))

    def add(self, toks: list[np.ndarray]) -> None:
        self.docs.extend(toks)

    def text_bytes(self, ids) -> int:
        return int(sum(self.wlen[self.docs[d]].sum() - 1 for d in ids))

    def _visible(self) -> np.ndarray:
        vis = np.ones(len(self.docs), bool)
        vis[list(self.tombstoned)] = False
        return vis

    def visible_ids(self) -> np.ndarray:
        return np.flatnonzero(self._visible())

    def oracle(self) -> Oracle:
        lens = np.fromiter((len(t) for t in self.docs), np.int64,
                           len(self.docs))
        offs = np.concatenate(([0], np.cumsum(lens)))
        vis = self._visible()
        counted = vis if self.compacted else np.ones(len(self.docs), bool)
        return Oracle(np.concatenate(self.docs), offs, counted, vis,
                      self.term_ids)


def churn(spark, run: Run) -> Result:
    from rdf_indexer_spark.index import maintain
    from rdf_indexer_spark.index.build import build_index

    tr = run.tracer
    gen = Generator(run.seed)
    base = gen.corpus(CHURN_DOCS)
    base_path = os.path.join(run.work, "base.parquet")
    base.write_parquet(base_path)
    live = _Live(base)
    rng = np.random.default_rng(run.seed + 7919)

    idx = os.path.join(run.work, "index")
    with tr.span("build_index"):
        build_index(spark, spark.read.parquet(base_path), idx,
                    meta_cols=("lang",), write_postings=False, resume=False,
                    n_docs=CHURN_DOCS, num_buckets=2)
    _index_facts(run, idx)
    probe = _Prober(spark, idx, live, gen, tr)
    probe.warm()
    run.facts["setup_s"] = time.perf_counter() - run.t_setup0

    write_s: dict[str, list[float]] = {
        "append_documents": [], "update_documents": [], "delete_docs": [],
        "compact_index": []}
    ingested_ids: list[int] = []
    attempted = failed = 0

    def mutation(kind: str, fn) -> bool:
        nonlocal attempted, failed
        attempted += 1
        t0 = time.perf_counter()
        try:
            with tr.span(kind):
                fn()
        except Exception:
            failed += 1
            _fail(kind, traceback.format_exc(limit=3))
            return False
        finally:
            write_s[kind].append(time.perf_counter() - t0)
        return True

    hot = [gen.vocab[0], gen.vocab[1]]

    def read(kind: str, docs: list[np.ndarray], mode: str,
             also_hot: bool = True) -> None:
        """One probe per given document, on rare terms of it (what the
        mutation changed), then (by default) a hot-term probe; each opens
        a fresh reader."""
        nonlocal attempted, failed
        probes = [(gen.rare_terms(toks, 2), mode) for toks in docs]
        for t, m in probes + ([(hot, "or")] if also_hot else []):
            attempted += 1
            why = probe.run(kind, t, m)
            if why:
                failed += 1
                _fail(kind, why)

    blocks_files: list[int] = []
    cycle_reads: list[float] = []
    t_start = time.perf_counter()
    c = 0
    while c < CHURN_CYCLES or time.perf_counter() - t_start < run.seconds:
        n_reads = len(probe.latencies)
        # append: fresh docs continue the dense id space
        app = gen.corpus(CHURN_APPEND, first_id=len(live.docs))
        app_path = os.path.join(run.work, f"append-{c}.parquet")
        app.write_parquet(app_path)
        upd = gen.corpus(CHURN_UPDATE)
        if mutation("append_documents", lambda: maintain.append_documents(
                spark, spark.read.parquet(app_path), idx,
                meta_cols=("lang",), num_buckets=1)):
            live.add([app.doc_tokens(d) for d in range(app.n_docs)])
            ingested_ids.extend(range(app.first_id,
                                      app.first_id + app.n_docs))
            ds = rng.choice(app.n_docs, 2, replace=False)
            read("probe.append", [app.doc_tokens(d) for d in ds], "and")

        # update: new text for visible old ids, re-posted under new ids
        vis = live.visible_ids()
        targets = np.sort(rng.choice(vis[vis < app.first_id],
                                     CHURN_UPDATE, replace=False))
        upd_path = os.path.join(run.work, f"update-{c}.parquet")
        texts = upd.texts()
        pq.write_table(pa.table({
            "doc_id": pa.array(targets, pa.int64()),
            "text": pa.array(texts, pa.string()),
            "lang": pa.array(np.asarray(LANGS)[upd.lang].tolist()),
        }), upd_path)
        n_before = len(live.docs)
        if mutation("update_documents", lambda: maintain.update_documents(
                spark, spark.read.parquet(upd_path), idx,
                meta_cols=("lang",), num_buckets=1)):
            why = _map_updates(spark, idx, n_before, upd, live)
            live.tombstoned.update(int(t) for t in targets)
            ingested_ids.extend(range(n_before, n_before + upd.n_docs))
            if why:  # the call returned but indexed the wrong documents
                failed += 1
                _fail("update_documents", why)
            new_ids = n_before + rng.choice(upd.n_docs, 2, replace=False)
            read("probe.update", [live.docs[i] for i in new_ids], "and")

        # delete: tombstone visible ids
        vis = live.visible_ids()
        dels = np.sort(rng.choice(vis, CHURN_DELETE, replace=False))
        if mutation("delete_docs", lambda: maintain.delete_docs(
                spark, idx, [int(x) for x in dels])):
            live.tombstoned.update(int(x) for x in dels)
            read("probe.delete", [live.docs[d] for d in dels[:2]], "or")
        blocks_files.append(_count_files(os.path.join(idx, "blocks")))
        cycle_reads.append(_p50_ms(
            [dt for _, dt in probe.latencies[n_reads:]]))
        c += 1
    run.facts["blocks_files_cycles"] = blocks_files[-1]
    before_bytes = _index_facts(run, idx)
    live_text_before = live.text_bytes(live.visible_ids())

    if mutation("compact_index",
                lambda: maintain.compact_index(spark, idx)):
        live.compacted = True
    after_bytes = _index_facts(run, idx)
    vis = live.visible_ids()
    live_text = live.text_bytes(vis)
    # after compaction: a visible document is still found and a deleted
    # one stays gone (checks; reported apart from the incremental reads)
    checked = [int(rng.choice(vis))] + sorted(live.tombstoned)[:1]
    read("probe.compact", [live.docs[d] for d in checked], "or",
         also_hot=False)
    window_s = time.perf_counter() - t_start

    # read latency = time-to-visible after an incremental mutation
    reads = [dt for kind, dt in probe.latencies if kind != "probe.compact"]
    post = [dt for kind, dt in probe.latencies if kind == "probe.compact"]
    all_writes = [x for v in write_s.values() for x in v]
    n_ingested = len(ingested_ids)
    ingest_s = (sum(write_s["append_documents"])
                + sum(write_s["update_documents"]))
    detail = {
        "cycles": c,
        "window_s": window_s,
        "reads": len(reads),
        "cycle_read_p50_ms": cycle_reads,
        "blocks_files": blocks_files,
        "post_compact_read_ms": _p50_ms(post),
        "append_s": statistics.median(write_s["append_documents"]),
        "update_s": statistics.median(write_s["update_documents"]),
        "delete_ms": _p50_ms(write_s["delete_docs"]),
        "compact_s": sum(write_s["compact_index"]),
        "ingest_docs_per_s": n_ingested / ingest_s,
        "churn_query_p50_ms": _p50_ms(reads),
        "space_per_live_byte_before": before_bytes / live_text_before,
        "space_per_live_byte_after": after_bytes / live_text,
        "ingested_text_bytes": live.text_bytes(ingested_ids),
    }
    e2e = {
        "setup_s": run.facts["setup_s"],
        "read_p50_ms": _p50_ms(reads),
        "write_docs_per_s": n_ingested / sum(all_writes),
        "index_bytes_per_text_byte": after_bytes / live_text,
    }
    return Result(attempted, failed, e2e, detail)


def _map_updates(spark, idx: str, n_before: int, upd: Corpus,
                 live: _Live) -> str | None:
    """Learn which new id holds which re-posted text (the engine assigns
    them by hash bucket) by matching content hashes, and add the new
    versions to the oracle in id order. Returns why the mapping failed."""
    from pyspark.sql import functions as F

    rows = (spark.read.parquet(os.path.join(idx, "docstore"))
            .filter(F.col("doc_id") >= n_before)
            .select("doc_id", "content_sha256").collect())
    by_sha = {s: i for i, s in enumerate(upd.sha256s())}
    placed: dict[int, int] = {}
    for r in rows:
        j = by_sha.get(r["content_sha256"])
        if j is None:
            return f"docstore row {r['doc_id']} holds no re-posted text"
        placed[int(r["doc_id"])] = j
    want = set(range(n_before, n_before + upd.n_docs))
    if set(placed) != want or len(set(placed.values())) != upd.n_docs:
        return "re-posted texts are not a bijection onto the new ids"
    live.add([upd.doc_tokens(placed[i]) for i in sorted(want)])
    return None


class _Prober:
    """A fresh ``IndexReader`` plus one ``search()`` per probe — the read a
    user makes right after a mutation; its latency includes the open."""

    def __init__(self, spark, idx: str, live: _Live, gen: Generator, tr):
        self.spark, self.idx, self.live, self.gen, self.tr = (
            spark, idx, live, gen, tr)
        self.latencies: list[tuple[str, float]] = []

    def _search(self, terms: list[str], mode: str, name: str):
        from rdf_indexer_spark.index.bm25 import IndexReader

        tr = self.tr
        with tr.span(name) as op:
            t0 = time.perf_counter()
            with tr.span("reader_open"):
                reader = IndexReader(self.spark, self.idx)
            for method in ("term_stats", "fetch_blocks"):
                tr.wrap(reader, method)
            with tr.span("search"):
                df = reader.search(" ".join(terms), K, mode=mode)
            op.attrs["route"] = reader.last_path
            with tr.span("materialize"):
                rows = df.collect()
            dt = time.perf_counter() - t0
        return [(int(r["doc_id"]), float(r["score"])) for r in rows], dt

    def warm(self) -> None:
        self._search([self.gen.vocab[0]], "or", "warmup")

    def run(self, kind: str, terms: list[str], mode: str) -> str | None:
        t0 = time.perf_counter()
        try:
            got, dt = self._search(terms, mode, kind)
        except Exception:
            self.latencies.append((kind, time.perf_counter() - t0))
            return traceback.format_exc(limit=3)
        self.latencies.append((kind, dt))
        dead = [d for d, _ in got if d in self.live.tombstoned]
        if dead:
            return f"{terms!r}: tombstoned ids {dead} returned"
        why = check(got, self.live.oracle().bm25(terms, mode), K)
        return f"{terms!r} ({mode}): {why}" if why else None


WORKLOADS = {"serve": serve, "churn": churn}
