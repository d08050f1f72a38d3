"""BM25 top-k retrieval: one columnar scoring core on three routes (Q-9).

Similarity pinned per SURVEY.md §7.4 — Lucene ``BM25Similarity`` defaults,
exact form (no norm quantization):

    idf(t)     = ln(1 + (N − df + 0.5)/(df + 0.5))
    score(d,q) = Σ_{t∈q} idf(t) · tf/(tf + k1·(1 − b + b·dl/avgdl))
    k1 = 1.2, b = 0.75; ties broken (score desc, doc_id asc)

**Determinism discipline** (SURVEY.md §4.3.6): per-term idf values are
computed ONCE driver-side and injected as literals everywhere; per-doc
summation runs in a fixed clause order (ascending term for plain terms),
and the exhaustive path sorts the contribution array before folding. The
paths therefore agree to float ulps and the test suite asserts rank +
score identity.

**The scorers**:

* ``score_exhaustive`` / ``score_phrase_exhaustive`` — declarative
  DataFrame plans over the postings relation: broadcast the (tiny)
  query-term idf table, compute contributions JVM-side, fold per doc,
  ``orderBy(score desc, doc_id).limit(k)``. These are the oracles and the
  paths whose physical plan Catalyst fully owns (predicate pushdown prunes
  the posting scan to the query's terms).

* The columnar core (bottom of this module) — every other query shape
  (plain terms in or/and mode, boolean, grouped, phrase, mixed, synonyms)
  is a list of scoring units ``(weight, ids, tf, dl)`` scored by ONE numpy
  pass in ``_vec_topk``; a phrase is a unit whose tf is its phrase
  frequency. It runs on three routes with the same local top-k function:
  the driver (``search_wand`` and friends: term-pruned block fetch, decode,
  score), the executors (``search_wand_distributed`` and friends: one
  ``applyInPandas`` group per index ``part`` bucket — disjoint sorted
  doc-id ranges by construction, build.py:15-28 — each emitting its exact
  local top-k, the driver merging ≤ parts·k rows, so a hot term's blocks
  stay on the executors) and the SQL surface's worker (``sqlsurface``).
  Parts partition the doc space and each doc's float sum runs in the same
  order everywhere, so ranks AND scores are bit-identical across routes
  (asserted in tests/test_index.py). No block-max skipping happens today:
  every posting of the query's terms is decoded and scored.
"""

from __future__ import annotations

import math
import os
import re
from functools import partial

import numpy as np
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..analyzer import tokenize
from .build import IndexPaths
from .codec import (delta_decode, unpack_block, unpack_positions,
                    varbyte_decode)

K1 = 1.2
B = 0.75


class IndexReader:
    """Query-side handle on an index directory."""

    def __init__(self, spark: SparkSession, index_dir: str):
        self.spark = spark
        self.paths = IndexPaths(index_dir)
        # Per-instance relation cache: repeated reads of the same index
        # table within this reader's lifetime (a multi-step query like
        # collate = termstats presence + suggestion + search) reuse one
        # DataFrame instead of re-listing files and re-reading footers per
        # call. A reader is already snapshot-scoped (stats are cached at
        # construction), so this adds no new staleness class — mutation
        # paths construct fresh readers.
        self._df_cache: dict[str, DataFrame] = {}
        row = spark.read.parquet(self.paths.stats).collect()[0]
        self.n_docs = row["n_docs"]
        self.avgdl = float(row["avgdl"])
        # tombstones (index/maintain.delete_docs): Lucene deleted-docs
        # semantics — a visibility filter at query time; stats/df keep
        # counting deleted docs until a rebuild, like segments before merge.
        # Held as a sorted numpy array (np.searchsorted membership); at
        # 10^12-doc scale this becomes a roaring bitmap broadcast.
        self._tomb_path = os.path.join(self.paths.root, "tombstones")
        if os.path.exists(self._tomb_path):
            rows = spark.read.parquet(self._tomb_path).select("doc_id").distinct().collect()
            self.tombstones = np.sort(np.array([r["doc_id"] for r in rows],
                                               dtype=np.int64))
        else:
            self.tombstones = np.array([], dtype=np.int64)
        # Broadcast once: executor-side tasks (search_wand_distributed) pull
        # the set from the broadcast store instead of shipping it inside
        # every task closure — task size stays O(1) in tombstone count.
        self._tomb_bc = spark.sparkContext.broadcast(self.tombstones)

    def _read(self, path: str) -> DataFrame:
        """Cached parquet relation for one of this index's tables (see
        ``_df_cache`` in ``__init__``)."""
        df = self._df_cache.get(path)
        if df is None:
            df = self.spark.read.parquet(path)
            self._df_cache[path] = df
        return df

    # -- statistics --------------------------------------------------------

    def term_stats(self, terms: list[str]) -> dict[str, dict]:
        """ONE termstats scan for everything a query needs per term:
        ``{"df": int, "bytes": int | None}`` (bytes = packed block payload
        size, from build-time block metadata; None on a pre-r4 index).
        ``search()`` fetches this once and derives idfs + the fetch-cost
        routing estimate from it — never two scans per query."""
        if not terms:
            return {}
        ts = self._read(self.paths.termstats)
        has_bytes = "bytes" in ts.columns
        cols = ["term", "df"] + (["bytes"] if has_bytes else [])
        rows = ts.filter(F.col("term").isin(terms)).select(*cols).collect()
        # Per-row nullability: after append_documents runs current code on a
        # pre-r4 index, recomputed termstats (F.sum over blocks where old
        # files lack bin_bytes) yields NULL bytes for terms living only in
        # old blocks — search() handles bytes=None via the postings-count
        # routing fallback, so surface None instead of crashing on int(None).
        return {
            r["term"]: {"df": int(r["df"]),
                        "bytes": int(r["bytes"])
                        if has_bytes and r["bytes"] is not None else None}
            for r in rows
        }

    def term_dfs(self, terms: list[str]) -> dict[str, int]:
        return {t: s["df"] for t, s in self.term_stats(terms).items()}

    def _idf(self, df: int) -> float:
        return math.log(1.0 + (self.n_docs - df + 0.5) / (df + 0.5))

    def idfs(self, terms: list[str]) -> dict[str, float]:
        return {t: self._idf(s["df"])
                for t, s in self.term_stats(terms).items()}

    # -- exhaustive scorer (DataFrame plan) ---------------------------------

    def postings_view(self, terms: list[str] | None = None) -> DataFrame:
        """The (term, doc_id, tf, dl) relation: the persisted postings table
        when present, else a narrow vectorized decode of the blocks (the
        blocks ARE the postings — the table is an optional debug artifact).

        Pass ``terms`` to prune: on the postings table it's an ordinary
        pushed filter, but on the blocks-decode branch it must be applied
        BELOW the ``mapInPandas`` boundary (a filter above a Python UDF
        never reaches the parquet scan), so the pruning happens on the
        block scan itself — only the query terms' packed blocks are ever
        read or decoded."""
        if os.path.exists(self.paths.postings):
            df = self._read(self.paths.postings)
            return df.filter(F.col("term").isin(terms)) if terms else df
        blocks = self._read(self.paths.blocks)
        if terms:
            blocks = blocks.filter(F.col("term").isin(terms))
        return blocks.select("term", "ids_bin", "tfs_bin", "dls_bin").mapInPandas(
            _decode_blocks_stream, schema="term string, doc_id long, tf long, dl long"
        )

    def score_exhaustive(
        self, query: str, k: int | None = 10, *, mode: str = "or",
        where: str | None = None,
    ) -> DataFrame:
        """Declarative BM25 over the postings relation; k=None scores all.

        ``mode="and"`` keeps only docs containing EVERY query term (strict
        Lucene +required: a term absent from the index matches nothing) —
        same scores, conjunctive candidate set. ``where`` is a SQL predicate
        over the docstore (the reference's fq filters, Q-2/Q-3, COMBINED
        with relevance ranking): scores are unchanged, visibility is
        restricted — Solr/Lucene fq semantics (non-scoring filter)."""
        terms = sorted(set(tokenize(query)))
        idfs = self.idfs(terms)
        if not idfs:
            return self.spark.createDataFrame([], "doc_id long, score double")
        idf_map = F.create_map(
            *[F.lit(x) for t, v in sorted(idfs.items()) for x in (t, float(v))]
        )
        postings = self.postings_view(sorted(idfs))
        contrib = (
            F.element_at(idf_map, F.col("term"))
            * F.col("tf")
            / (
                F.col("tf")
                + F.lit(K1) * (F.lit(1.0) - F.lit(B) + F.lit(B) * F.col("dl") / F.lit(self.avgdl))
            )
        )
        scored = (
            postings
            .select("doc_id", "term", contrib.alias("contrib"))
            .groupBy("doc_id")
            .agg(
                F.aggregate(
                    F.array_sort(F.collect_list(F.struct("term", "contrib"))),
                    F.lit(0.0),
                    lambda acc, x: acc + x["contrib"],
                ).alias("score"),
                F.count("*").alias("_nterms"),
            )
        )
        if mode == "and":
            # strict +required: if any query term is absent from the index
            # no doc can reach len(terms) matches → empty result
            scored = scored.filter(F.col("_nterms") == len(terms))
        elif mode != "or":
            raise ValueError(f"unknown mode: {mode!r}")
        scored = scored.drop("_nterms")
        if where is not None:
            visible = (
                self._read(self.paths.docstore)
                .filter(where).select("doc_id")
            )
            scored = scored.join(visible, "doc_id", "left_semi")
        if len(self.tombstones):
            # anti-join (not isin): the tombstone set stays distributed
            tomb = self._read(self._tomb_path).select("doc_id").distinct()
            scored = scored.join(tomb, "doc_id", "left_anti")
        out = scored.orderBy(F.desc("score"), F.asc("doc_id"))
        return out.limit(k) if k is not None else out

    # -- the columnar core on the driver and executor routes ----------------

    def fetch_blocks(
        self, terms: list[str], with_positions: bool = False,
    ) -> dict[str, list]:
        """The driver route's block fetch: the terms' packed block rows,
        collected and grouped ``{term: blocks sorted by first_doc_id}``."""
        blocks = self._read(self.paths.blocks)
        cols = ["term", "first_doc_id", "ids_bin", "tfs_bin", "dls_bin"]
        if with_positions:
            if "pos_bin" not in blocks.columns:
                raise ValueError(
                    "not a positional index: rebuild with "
                    "build_index(positions=True) for phrase queries")
            cols.append("pos_bin")
        rows = (
            blocks.filter(F.col("term").isin(terms)).select(*cols).collect()
        )
        if with_positions and any(r["pos_bin"] is None for r in rows):
            # the pos_bin COLUMN always exists (BLOCK_SCHEMA); only its
            # payload tells a positional build from a bag-of-words one
            raise ValueError(
                "not a positional index: rebuild with "
                "build_index(positions=True) for phrase queries")
        return _by_term(rows)

    def allowed_ids(self, where: str | None) -> np.ndarray | None:
        """SQL predicate over the docstore → sorted visible doc_id set (the
        fq filter surface of the DRIVER route only).

        This collects the visible ids to the driver, so it is only safe
        where the driver route itself is: a small index / debug path.
        ``search()`` routes every filtered query to the executors, which
        evaluate the predicate per part (see :meth:`_per_part`) and never
        materialize the visible-id set on the driver, matching Solr fq
        semantics of evaluating filters inside the index
        (SolrClient.java:144-163)."""
        if where is None:
            return None
        rows = (
            self._read(self.paths.docstore)
            .filter(where).select("doc_id").collect()
        )
        return np.sort(np.array([r["doc_id"] for r in rows], dtype=np.int64))

    def _route(self, stats: dict[str, dict], where: str | None,
               distributed: bool | None) -> bool:
        """Resolve ``distributed=None`` the way :meth:`search` does and
        record the route in ``self.last_path``: filtered queries always
        run on the executors (the fq set stays there); otherwise the
        build-time byte estimate of the blocks to fetch decides, with the
        postings count as the fallback on pre-r4 indexes."""
        if distributed is None:
            if where is not None:
                distributed = True
            elif all(s["bytes"] is not None for s in stats.values()):
                distributed = (sum(s["bytes"] for s in stats.values())
                               > self.DISTRIBUTED_FETCH_BYTES)
            else:
                distributed = (sum(s["df"] for s in stats.values())
                               > self.DISTRIBUTED_POSTINGS_THRESHOLD)
        self.last_path = "distributed" if distributed else "driver"
        return distributed

    def _per_part(self, kernel, terms: list[str], where: str | None,
                  schema: str, positions: bool = False) -> DataFrame:
        """The executor route: one ``applyInPandas`` group per index
        ``part`` bucket, running ``kernel(by_term, deleted, allowed) →
        rows`` over that part's blocks of ``terms`` (rows match
        ``schema``, which carries ``doc_id`` and ``score``).

        ``where`` (fq) is evaluated entirely executor-side: the docstore
        predicate scan is COGROUPED with the block scan on ``part`` (both
        are hive-partitioned by part, so each part's kernel receives exactly
        its own visible ids through the shuffle), the way Solr evaluates fq
        inside the index (SolrClient.java:144-163). Nothing about the
        visible-id set ever reaches the driver — for an unselective
        predicate at 10^12-doc scale the per-part id sets stay
        O(docs/parts) on the executors. Tombstones ride a broadcast, so the
        task closure stays O(1) in their count."""
        if positions:
            self._require_positional()
        blocks = (
            self._read(self.paths.blocks)
            .filter(F.col("term").isin(terms))
            .select("part", "term", "first_doc_id", "ids_bin", "tfs_bin",
                    "dls_bin", *(["pos_bin"] if positions else []))
        )
        names = [c.split()[0] for c in schema.split(",")]
        tomb_bc = self._tomb_bc

        def _part(pdf, allow):
            import pandas as pd

            rows = []
            # skip parts with no query postings or no visible docs
            if not pdf.empty and (allow is None or len(allow)):
                rows = kernel(_by_term(pdf.to_dict("records")),
                              tomb_bc.value, allow)
            return pd.DataFrame(rows, columns=names).astype(
                {"doc_id": "int64", "score": "float64"})

        if where is None:
            return blocks.groupBy("part").applyInPandas(
                lambda pdf: _part(pdf, None), schema=schema)
        visible = (
            self._read(self.paths.docstore)
            .filter(where).select("part", "doc_id")
        )
        return (
            blocks.groupBy("part")
            .cogroup(visible.groupBy("part"))
            .applyInPandas(
                lambda bl, vis: _part(
                    bl, np.unique(vis["doc_id"].values.astype(np.int64))),
                schema=schema)
        )

    def _top_k(self, local, terms: list[str], k: int, where: str | None,
               distributed: bool, positions: bool = False,
               ) -> list[tuple[int, float]]:
        """Run one local top-k ``local(by_term, deleted, allowed)`` over the
        blocks of ``terms``: on the driver (collect the blocks, score
        there), or per part on the executors with a driver merge of the
        ≤ parts·k local hits under (score desc, doc_id asc) — exact, since
        parts hold disjoint doc ids."""
        if not distributed:
            return local(self.fetch_blocks(terms, with_positions=positions),
                         self.tombstones, self.allowed_ids(where))
        rows = self._per_part(local, terms, where, "doc_id long, score double",
                              positions).collect()
        rows.sort(key=lambda r: (-r["score"], r["doc_id"]))
        return [(int(r["doc_id"]), float(r["score"])) for r in rows[:k]]

    def _search_terms(
        self, query: str, k: int, mode: str, where: str | None,
        idfs: dict[str, float] | None, after: tuple[int, float] | None,
        distributed: bool,
    ) -> list[tuple[int, float]]:
        terms = sorted(set(tokenize(query)))
        spec = _terms_spec(terms, mode)
        idfs = self.idfs(terms) if idfs is None else idfs
        if not idfs:
            return []
        local = partial(_local_clauses, spec=spec, idfs=idfs, k=k,
                        avgdl=self.avgdl, after=after)
        return self._top_k(local, sorted(idfs), k, where, distributed)

    def search_wand(
        self, query: str, k: int = 10, *, mode: str = "or",
        where: str | None = None, _idfs: dict[str, float] | None = None,
        after: tuple[int, float] | None = None,
    ) -> list[tuple[int, float]]:
        """Exact top-k on the DRIVER route: the query terms' blocks are
        fetched (pruned by the parquet ``term`` predicate), decoded and
        scored by the columnar core. ``mode="and"`` is strict Lucene
        +required (every query term required; a term absent from the index
        matches nothing). ``where`` is the fq visibility filter
        (:meth:`allowed_ids`). ``after`` = the previous page's last
        ``(doc_id, score)`` hit (Lucene ``searchAfter`` / Solr cursorMark):
        only hits strictly after it in (score desc, doc_id asc) order."""
        return self._search_terms(query, k, mode, where, _idfs, after,
                                  distributed=False)

    def search_phrase(
        self, phrase: str, k: int = 10, *, where: str | None = None,
        distributed: bool | None = None, slop: int = 0,
    ) -> list[tuple[int, float]]:
        """Exact-phrase top-k over a POSITIONAL index (Q-9 extension; the
        capability delta VERDICT r4 ranked #2 — Lucene phrase queries work
        out-of-the-box on its positional postings, SolrClient.java:125-201
        serves them; this closes that gap engine-side).

        Semantics = Lucene ``PhraseQuery`` (slop 0): a doc matches iff the
        exact consecutive token sequence occurs; ``pf`` = number of phrase
        occurrences; score = (Σ_i idf(t_i), summed WITH multiplicity over
        the phrase's token sequence — Lucene sums the idf explanation the
        same way) · pf/(pf + k1·(1 − b + b·dl/avgdl)). Every phrase term is
        required, so an index-absent term matches nothing. Tie-break
        (score desc, doc_id asc); tombstones + optional fq ``where`` as in
        :meth:`search_wand`.

        ``slop`` (the classic parser's ``"a b"~N``) relaxes matching to
        ORDERED near-match — Lucene SpanNearQuery(inOrder=true, slop)
        semantics, NOT classic PhraseQuery's transposing sloppy scorer:
        a match is an in-order occurrence of all phrase terms with at
        most ``slop`` intervening positions total, pf counts match start
        positions unweighted (vs Lucene's 1/(distance+1) weights). Both
        deviations documented; :func:`_phrase_unit` defines the contract
        and the DuckDB oracle restates it (``bm25_phrase_slop``).

        ``distributed=None`` auto-routes like :meth:`search`: the per-part
        executor route unless the estimated fetch volume is driver small;
        filtered queries always route distributed so the fq set stays
        executor-side. (The byte estimate is the CORE payload — a
        positional fetch is ~1.2× that, so routing leans driver slightly;
        acceptable, the threshold is an order-of-magnitude knob.) The route
        taken is recorded in ``self.last_path``.

        The phrase is ONE scoring unit of the columnar core: its pf per doc
        is computed vectorized over the docs holding every phrase term
        (:func:`_phrase_unit`); nothing but the phrase terms' blocks is
        read."""
        terms = tokenize(phrase)  # in order, duplicates kept
        if not terms or k <= 0:
            return []
        uniq = sorted(set(terms))
        stats = self.term_stats(uniq)
        if any(t not in stats for t in uniq):
            return []
        idfs = {t: self._idf(stats[t]["df"]) for t in uniq}
        spec = ([], [], [], [(terms, True, 1.0, slop)], [])
        local = partial(_local_clauses, spec=spec, idfs=idfs, k=k,
                        avgdl=self.avgdl)
        return self._top_k(local, uniq, k, where,
                           self._route(stats, where, distributed),
                           positions=True)

    def search_phrase_distributed(
        self, phrase: str, k: int = 10, *, where: str | None = None,
        slop: int = 0,
    ) -> list[tuple[int, float]]:
        """:meth:`search_phrase` pinned to the executor route — the
        cluster-scale phrase shape: one group per index ``part`` bucket
        (disjoint doc-id ranges, so phrase matching is bucket-local), exact
        local top-k per bucket, driver merge of ≤ parts·k rows. ``where``
        is evaluated executor-side. Rank- and score-identical to the driver
        route (asserted in tests)."""
        return self.search_phrase(phrase, k, where=where, slop=slop,
                                  distributed=True)

    def _require_positional(self) -> None:
        """Raise unless the blocks carry real positional payloads (cached
        per reader — one limit-1 metadata probe, then free)."""
        if getattr(self, "_positional", None) is None:
            blocks = self._read(self.paths.blocks)
            if "pos_bin" not in blocks.columns:
                self._positional = False
            else:
                # an index is uniformly positional or not (build sets it,
                # append auto-detects and preserves it), so ONE row decides
                # — never a full-column null scan at 100-TB block scale
                row = blocks.select("pos_bin").limit(1).collect()
                self._positional = bool(row) and row[0]["pos_bin"] is not None
        if not self._positional:
            raise ValueError(
                "not a positional index: rebuild with "
                "build_index(positions=True) for phrase queries")

    def postings_view_positional(self, terms: list[str]) -> DataFrame:
        """(term, doc_id, tf, dl, positions) decoded from the packed blocks
        for the given terms — the declarative substrate for
        :meth:`score_phrase_exhaustive` (narrow vectorized decode, pruned
        to the phrase's terms by the parquet ``term`` predicate)."""
        self._require_positional()
        blocks = self._read(self.paths.blocks)
        src = blocks.filter(F.col("term").isin(terms)).select(
            "term", "ids_bin", "tfs_bin", "dls_bin", "pos_bin")
        return src.mapInPandas(
            _decode_blocks_pos_stream,
            schema="term string, doc_id long, tf long, dl long, "
                   "positions array<int>",
        )

    def score_phrase_exhaustive(
        self, phrase: str, k: int | None = 10, *, where: str | None = None,
    ) -> DataFrame:
        """Declarative oracle twin of :meth:`search_phrase`: decode the
        phrase terms' positional postings, slide each phrase slot i to its
        start position (pos − i), count per-doc aligned starts (= phrase
        frequency) via successive equi-joins, score once per doc. Identity
        with the columnar route is asserted in tests/test_index.py."""
        terms = tokenize(phrase)
        empty = self.spark.createDataFrame([], "doc_id long, score double")
        if not terms:
            return empty
        uniq = sorted(set(terms))
        stats = self.term_stats(uniq)
        if any(t not in stats for t in uniq):
            return empty
        idf_sum = sum(self._idf(stats[t]["df"]) for t in terms)
        pv = self.postings_view_positional(uniq)
        matched = None
        for i, t in enumerate(terms):
            # NB: the transform lambda must take ONE parameter — a second
            # parameter (even defaulted) makes PySpark bind it to the array
            # ELEMENT INDEX, silently shadowing the slot offset. The Column
            # expression is built eagerly, so capturing `shift` is safe.
            shift = F.lit(i)
            slot = pv.filter(F.col("term") == t).select(
                "doc_id",
                *(["dl"] if i == 0 else []),
                F.explode(
                    F.transform("positions", lambda p: p - shift)
                ).alias("p"),
            )
            matched = slot if matched is None else matched.join(
                slot, ["doc_id", "p"])
        pf = matched.groupBy("doc_id", "dl").agg(
            F.count("*").cast("double").alias("pf"))
        score = (
            F.lit(float(idf_sum)) * F.col("pf")
            / (F.col("pf") + F.lit(K1) * (
                F.lit(1.0) - F.lit(B)
                + F.lit(B) * F.col("dl") / F.lit(self.avgdl)))
        )
        scored = pf.select("doc_id", score.alias("score"))
        if where is not None:
            visible = (
                self._read(self.paths.docstore)
                .filter(where).select("doc_id")
            )
            scored = scored.join(visible, "doc_id", "left_semi")
        if len(self.tombstones):
            tomb = self._read(self._tomb_path).select(
                "doc_id").distinct()
            scored = scored.join(tomb, "doc_id", "left_anti")
        out = scored.orderBy(F.desc("score"), F.asc("doc_id"))
        return out.limit(k) if k is not None else out

    def search_wand_distributed(
        self, query: str, k: int = 10, *, mode: str = "or",
        where: str | None = None, _idfs: dict[str, float] | None = None,
        after: tuple[int, float] | None = None,
    ) -> list[tuple[int, float]]:
        """:meth:`search_wand` on the executor route: one ``applyInPandas``
        group per index ``part`` bucket (disjoint doc-id ranges), local
        exact top-k per bucket, driver merge of ≤ parts·k rows (see
        :meth:`_per_part`; ``where`` never reaches the driver). Rank- and
        score-identical to :meth:`search_wand`. In ``mode="and"`` a bucket
        missing a term's postings matches nothing — exact. The same
        ``after`` mark applies verbatim per part: parts hold disjoint doc
        ids, so "strictly after (s0, d0)" is a per-doc predicate and the
        merge of per-part pages is exactly the global page."""
        return self._search_terms(query, k, mode, where, _idfs, after,
                                  distributed=True)

    def search_many(
        self, queries: dict[str, str], k: int = 10, *, mode: str = "or",
        where: str | None = None,
    ) -> DataFrame:
        """Batch top-k for MANY queries in ONE distributed job — the QPS
        surface for query-set workloads (the reference replays whole query
        sets against Solr; serving a set one job per query pays Spark's
        per-job latency |Q| times).

        ``queries`` maps query_id → query string. One termstats scan fetches
        df for the UNION of all terms; one block scan (pruned to that
        union) feeds the per-part kernel (:meth:`_per_part`), which decodes
        each term's blocks ONCE for the whole set and scores every query
        through the columnar core over the shared arrays. The global merge
        is a window-rank DataFrame job over those ≤ parts·k·|Q| rows —
        nothing funnels through the driver, so a 100k-query offline replay
        scales with the cluster. ``where`` is the same executor-side fq.

        Returns (query_id, doc_id, score, rank) — per query rank- and
        score-identical to :meth:`search_wand` (asserted in tests)."""
        if mode not in ("or", "and"):
            raise ValueError(f"unknown mode: {mode!r}")
        q_terms = {qid: sorted(set(tokenize(q))) for qid, q in queries.items()}
        all_terms = sorted({t for ts in q_terms.values() for t in ts})
        idfs = {t: self._idf(s["df"])
                for t, s in self.term_stats(all_terms).items()}
        live_terms = [t for t in all_terms if t in idfs]
        if not live_terms:
            return self.spark.createDataFrame(
                [], "query_id string, doc_id long, score double, rank int")
        avgdl = self.avgdl

        def _many(by_term, deleted, allowed):
            arrs = {t: _decode_term_arrays(bl) for t, bl in by_term.items()}
            rows = []
            for qid, ts in q_terms.items():
                units = [(idfs[t], *arrs[t]) for t in ts if t in arrs]
                if mode == "and":
                    if len(units) < len(ts):
                        continue  # a required term has no postings here
                    hits = _vec_topk([[u] for u in units], [], k, avgdl,
                                     deleted=deleted, allowed=allowed)
                else:
                    hits = _vec_topk([], units, k, avgdl,
                                     deleted=deleted, allowed=allowed)
                rows.extend((qid, d, s) for d, s in hits)
            return rows

        local = self._per_part(_many, live_terms, where,
                               "query_id string, doc_id long, score double")
        # The global per-query merge is a DataFrame job, NOT a driver
        # collect: a 100k-query offline replay at 64 parts × k=10 would
        # otherwise funnel 64M rows through one driver. Parts hold disjoint
        # doc-id ranges so every (query_id, doc_id) pair appears at most
        # once — row_number over (score desc, doc_id asc) is exactly the
        # k-way merge, and the tiny shuffle moves only ≤ parts·k rows per
        # query.
        from pyspark.sql import Window

        w = Window.partitionBy("query_id").orderBy(
            F.desc("score"), F.asc("doc_id"))
        return (
            local.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
        )

    def _check_facet_fields(self, fields: list[str]) -> None:
        """Fail fast on the driver for field lists the pandas kernels
        cannot express (duplicates collapse a groupby; part/doc_id collide
        with the kernel's own columns)."""
        if len(set(fields)) != len(fields):
            raise ValueError(f"duplicate facet fields: {fields}")
        bad = set(fields) & {"part", "doc_id"}
        if bad:
            raise ValueError(
                f"facet fields collide with index columns: {sorted(bad)}")

    def _matchset_partials(self, query: str, mode: str, where: str | None,
                           fields: list[str], partial, out_schema: str):
        """The shared match-set ∩ metadata plan under facet_counts AND
        facet_pivot: pruned docstore scan (fq predicate + requested fields
        cast to string), ids-only block decode cogrouped per part, numpy
        membership mask handed to ``partial(doc_pdf, matched)`` which
        emits that part's PARTIAL count rows. Returns the partial-counts
        DataFrame, or None when the query provably matches nothing (a
        term absent from the index in and-mode / no query term indexed) —
        callers return their empty shape."""
        terms = sorted(set(tokenize(query))) if query not in ("", "*:*") \
            else []
        docmeta = self._read(self.paths.docstore)
        if where is not None:
            docmeta = docmeta.filter(where)
        docmeta = docmeta.select(
            "part", "doc_id", *[F.col(c).cast("string").alias(c)
                                for c in fields])
        if not terms:
            # match-all browse: one pruned docstore pass, partial counts
            # per partition, tiny final agg
            return docmeta.groupBy("part").applyInPandas(
                lambda pdf: partial(pdf, None), schema=out_schema)
        stats = self.term_stats(terms)
        if (not stats) or (mode == "and" and len(stats) < len(terms)):
            return None
        n_req = len(terms)
        blocks = (
            self._read(self.paths.blocks)
            .filter(F.col("term").isin(sorted(stats)))
            .select("part", "term", "ids_bin")
        )

        def _kernel(bl_pdf, doc_pdf):
            per_term: dict[str, list] = {}
            for rec in bl_pdf.to_dict("records"):
                ids = delta_decode(varbyte_decode(bytes(rec["ids_bin"])))
                per_term.setdefault(rec["term"], []).append(ids)
            if mode == "and" and len(per_term) < n_req:
                return partial(doc_pdf.iloc[0:0], None)
            sets = [np.unique(np.concatenate(v))
                    for v in per_term.values()]
            if not sets:
                return partial(doc_pdf.iloc[0:0], None)
            matched = sets[0]
            if mode == "and":
                for st in sets[1:]:
                    matched = np.intersect1d(matched, st,
                                             assume_unique=True)
            else:
                matched = np.unique(np.concatenate(sets)) \
                    if len(sets) > 1 else sets[0]
            return partial(doc_pdf, matched)

        return (
            blocks.groupBy("part")
            .cogroup(docmeta.groupBy("part"))
            .applyInPandas(_kernel, schema=out_schema)
        )

    def facet_counts(
        self, query: str, fields: list[str], *, mode: str = "or",
        where: str | None = None, top: int = 10,
    ) -> DataFrame:
        """Solr-style facet counts over the FULL match set of ``query``
        (the serving surface the reference's index exists to power: Collex
        is a faceted browser, and every Solr response it consumes carries
        ``facet.field`` counts alongside the hits — facets summarize ALL
        matching docs, not the top-k page).

        ``fields`` are docstore metadata columns (``build_index
        meta_cols`` — the index's stored fields, like Lucene doc values).
        ``mode="or"`` matches docs containing ANY query term, ``"and"``
        requires every term (strict ``+required``: a term absent from the
        index ⇒ empty). An empty/``"*:*"`` query matches ALL visible docs
        (Solr ``q=*:*`` browsing). ``where`` is the same fq predicate as
        :meth:`search`, evaluated on the docstore scan. Tombstoned docs
        never count.

        Scale shape: blocks and docstore are co-partitioned on the same
        doc_id→part striping, so the match-set ∩ metadata step is a
        COGROUPED per-part kernel — ids-only block decode (no tf/dl), a
        numpy membership mask over the part's (pruned) metadata columns,
        and per-part PARTIAL counts. Only ≤ parts·Σ|field cardinality|
        count rows reach the final groupBy; nothing is proportional to
        corpus size past the scans. Returns (facet_field, facet_value,
        n) — per field the ``top`` values by (n desc, value asc)."""
        if mode not in ("or", "and"):
            raise ValueError(f"unknown mode: {mode!r}")
        if not fields:
            raise ValueError("facet_counts needs at least one field")
        self._check_facet_fields(fields)
        tomb_bc = self._tomb_bc
        out_schema = "facet_field string, facet_value string, cnt long"

        def _partial_counts(doc_pdf, matched: np.ndarray | None):
            """Per-part partial (field, value, count) rows. ``matched`` is
            the part's matching doc_id set (None = match-all)."""
            import pandas as pd

            sub = doc_pdf
            deleted = tomb_bc.value
            if deleted is not None and len(deleted):
                sub = sub[~sub["doc_id"].isin(deleted)]
            if matched is not None:
                sub = sub[np.isin(sub["doc_id"].values.astype(np.int64),
                                  matched)]
            frames = []
            for f_name in fields:
                vc = sub[f_name].value_counts(dropna=False)
                vals = [None if pd.isna(v) else str(v) for v in vc.index]
                frames.append(pd.DataFrame({
                    "facet_field": f_name,
                    "facet_value": pd.Series(vals, dtype="object"),
                    "cnt": vc.values.astype("int64"),
                }))
            return pd.concat(frames, ignore_index=True) if frames else \
                pd.DataFrame({"facet_field": pd.Series(dtype="object"),
                              "facet_value": pd.Series(dtype="object"),
                              "cnt": pd.Series(dtype="int64")})

        partial = self._matchset_partials(query, mode, where, fields,
                                          _partial_counts, out_schema)
        if partial is None:
            return self.spark.createDataFrame([], out_schema).select(
                "facet_field", "facet_value", F.col("cnt").alias("n"))
        from pyspark.sql import Window

        w = Window.partitionBy("facet_field").orderBy(
            F.desc("n"), F.asc_nulls_last("facet_value"))
        return (
            partial.groupBy("facet_field", "facet_value")
            .agg(F.sum("cnt").alias("n"))
            .withColumn("_r", F.row_number().over(w))
            .filter(F.col("_r") <= top)
            .drop("_r")
        )

    def more_like_this(
        self, text: str, k: int = 10, *, m_terms: int = 10,
        min_tf: int = 1, where: str | None = None,
        exclude_doc_id: int | None = None,
    ) -> list[tuple[int, float]]:
        """Lucene/Solr MoreLikeThis: rank the corpus by similarity to a
        given document's text. Select the document's ``m_terms`` most
        "interesting" terms — tf(term in doc) · idf(term), Lucene MLT's
        default scorer, ties broken (score desc, term asc), terms absent
        from the index or below ``min_tf`` dropped — then run the standard
        OR-mode BM25 search with them. ``exclude_doc_id`` drops the seed
        from a k+1 overfetch (Solr MLT never returns the seed).

        The seed analysis is a driver-side tokenize of ONE document plus
        one termstats scan (df for the seed's distinct terms); the search
        itself is a normal term query on the executor route, so the
        heavy part stays distributed. Seed exclusion is a k+1
        overfetch + post-drop, NOT an fq predicate: the fq path scans the
        docstore to build the visible set, which is the right shape for a
        real ``where`` but absurd for excluding one known id (the top-k
        of corpus−seed is exactly the top-k+1 of the corpus minus the
        seed row). ``where`` still routes through fq when given."""
        counts: dict[str, int] = {}
        for t in tokenize(text):
            counts[t] = counts.get(t, 0) + 1
        cand = sorted(t for t, c in counts.items() if c >= min_tf)
        if not cand:
            return []
        stats = self.term_stats(cand)
        scored = sorted(
            ((counts[t] * self._idf(s["df"]), t) for t, s in stats.items()),
            key=lambda x: (-x[0], x[1]),
        )
        top_terms = [t for _, t in scored[:m_terms]]
        self.last_mlt_terms = top_terms
        if not top_terms:
            return []
        if exclude_doc_id is None:
            return self.search_wand_distributed(
                " ".join(top_terms), k, where=where)
        hits = self.search_wand_distributed(
            " ".join(top_terms), k + 1, where=where)
        return [h for h in hits if h[0] != int(exclude_doc_id)][:k]

    def suggest(
        self, term: str, *, max_dist: int = 2, top: int = 5,
        min_df: int = 1,
    ) -> DataFrame:
        """Spell suggestion over the index's term dictionary — Lucene's
        DirectSpellChecker shape (Solr ``spellcheck``): candidate terms
        within ``max_dist`` Levenshtein edits of the input, ranked
        (distance asc, df desc, term asc). The input term itself is never
        suggested; ``min_df`` drops noise terms.

        Scale shape: ONE scan of the termstats metadata table (|vocab|
        rows — millions, not trillions; no postings touched), a length
        band prefilter (|len(t) − len(term)| ≤ max_dist, cheap Column
        algebra that skips most of the dictionary before the edit-distance
        kernel), JVM-side ``levenshtein``, and a global top-N — the only
        thing that moves is ``top`` rows. Returns (term, df, dist)."""
        q = term.strip().lower()
        out_schema = "term string, df long, dist int"
        if not q:
            return self.spark.createDataFrame([], out_schema)
        ts = self._read(self.paths.termstats)
        return (
            ts.select("term", "df")
            .filter(
                (F.abs(F.length("term") - F.lit(len(q))) <= max_dist)
                & (F.col("term") != q)
                & (F.col("df") >= min_df)
            )
            .withColumn("dist", F.levenshtein(F.col("term"), F.lit(q)))
            .filter(F.col("dist") <= max_dist)
            .orderBy(F.asc("dist"), F.desc("df"), F.asc("term"))
            .limit(top)
        )

    def search_collated(
        self, query: str, k: int = 10, *, max_dist: int = 2,
        mode: str = "or", where: str | None = None,
    ) -> tuple[str, list[tuple[int, float]]]:
        """Solr ``spellcheck.collate``: rewrite each query term that is
        ABSENT from the index with its top spell suggestion (the
        :meth:`suggest` ranking — distance asc, df desc, term asc), then
        serve the corrected query. Returns ``(collated_query, hits)``;
        terms with no candidate within ``max_dist`` stay as typed (they
        simply match nothing, like Solr serving the raw collation).

        Scale shape: ONE termstats scan answers BOTH df-presence for every
        query term AND each term's top suggestion ((dist asc, df desc,
        term asc) as a lexicographic struct-min; the tiny query-term list
        is broadcast against the dictionary scan, length-band + distance
        filtered) — one metadata job + the search regardless of how many
        typos the query carries. Suggestions are applied only to terms the
        presence bit marks unknown, so the rewrite is identical to the
        two-scan formulation."""
        toks = tokenize(query)
        uniq = sorted(set(toks))
        repl: dict[str, str] = {}
        if uniq:
            cand = self.spark.createDataFrame(
                [(t,) for t in uniq], "input string")
            ts = self._read(self.paths.termstats).select("term", "df")
            pair = ts.crossJoin(F.broadcast(cand)).filter(
                (F.col("term") == F.col("input"))
                | ((F.abs(F.length("term") - F.length("input")) <= max_dist)
                   & (F.col("df") >= 1))
            ).withColumn(
                "dist",
                F.when(F.col("term") == F.col("input"), F.lit(-1))
                .otherwise(F.levenshtein("term", "input")),
            ).filter(F.col("dist") <= max_dist)
            rows = pair.groupBy("input").agg(
                F.max(F.when(F.col("dist") == -1, 1).otherwise(0))
                .alias("present"),
                # lexicographic struct-min == (dist asc, df desc, term asc)
                F.min(F.when(F.col("dist") >= 0, F.struct(
                    "dist", (-F.col("df")).alias("ndf"), "term")))
                .alias("best"),
            ).collect()
            repl = {
                r["input"]: r["best"]["term"] for r in rows
                if not r["present"] and r["best"] is not None
            }
        collated = " ".join(repl.get(t, t) for t in toks)
        hits = self.search_wand_distributed(collated, k, mode=mode,
                                            where=where)
        return collated, hits

    MAX_WILDCARD_EXPANSIONS = 128
    MAX_FUZZY_EXPANSIONS = 50  # Lucene FuzzyQuery's maxExpansions default

    def expand_wildcard(
        self, pattern: str, *, max_expansions: int | None = None,
    ) -> list[str]:
        """Expand a Lucene wildcard pattern (``*``/``?``) against the term
        dictionary: the substrate of ``search_lucene``'s WildcardQuery
        support under the SCORING_BOOLEAN_REWRITE (each expanded term
        scores with its own idf), capped deterministically at the
        ``max_expansions`` highest-df terms (ties term-asc) — Lucene's
        TopTermsRewrite posture without the 1024-clause blowup.

        Scale shape: ONE termstats scan (vocab-sized, no postings). A
        literal prefix before the first wildcard becomes a
        ``startswith`` predicate (parquet-pushable ``StringStartsWith``
        — the dictionary scan prunes by row-group range like Lucene's
        FST prefix seek) with the full anchored regex as the residual."""
        rows = self.expand_wildcard_df(
            pattern, max_expansions=max_expansions).collect()
        return [r["term"] for r in rows]

    def expand_wildcard_df(
        self, pattern: str, *, max_expansions: int | None = None,
    ) -> DataFrame:
        """The declarative dictionary-expansion plan behind
        :meth:`expand_wildcard` (exposed so the plan-audit suite can
        assert the ``StringStartsWith`` prefix predicate reaches the
        parquet scan)."""
        from .qparse import wildcard_regex

        cap = max_expansions or self.MAX_WILDCARD_EXPANSIONS
        pat = pattern.lower()
        rx = wildcard_regex(pat)
        ts = self._read(self.paths.termstats)
        cond = F.col("term").rlike(rx)
        prefix = re.split(r"[*?]", pat, maxsplit=1)[0]
        if prefix:
            cond = F.col("term").startswith(prefix) & cond
        return (
            ts.select("term", "df").filter(cond)
            .orderBy(F.desc("df"), F.asc("term"))
            .limit(cap)
        )

    def expand_fuzzy(
        self, term: str, max_edits: int = 2, *,
        max_expansions: int | None = None,
    ) -> list[str]:
        """Expand a fuzzy term (``term~N``) against the term dictionary:
        candidate terms within ``max_edits`` CLASSIC Levenshtein edits
        (transpositions cost 2 — deviation from Lucene's default
        ``transpositions=true``, documented in qparse), the exact term
        included when indexed (distance 0, as Lucene's FuzzyQuery does).
        Capped deterministically at ``max_expansions`` by (distance asc,
        df desc, term asc) — the TopTerms shape of Lucene's fuzzy rewrite
        with a plain-df rank instead of blended boosts (deviation
        documented; each expanded term then scores with its own idf).

        Scale shape: ONE termstats scan with the same length-band
        prefilter as :meth:`suggest` (Column algebra skips most of the
        dictionary before the JVM levenshtein kernel)."""
        cap = max_expansions or self.MAX_FUZZY_EXPANSIONS
        q = term.lower()
        ts = self._read(self.paths.termstats)
        rows = (
            ts.select("term", "df")
            .filter(F.abs(F.length("term") - F.lit(len(q))) <= max_edits)
            .withColumn("dist", F.levenshtein(F.col("term"), F.lit(q)))
            .filter(F.col("dist") <= max_edits)
            .orderBy(F.asc("dist"), F.desc("df"), F.asc("term"))
            .limit(cap).collect()
        )
        return [r["term"] for r in rows]

    def search_boolean(
        self, must: list[str] = (), should: list[str] = (),
        must_not: list[str] = (), *, boosts: dict[str, float] | None = None,
        k: int = 10, where: str | None = None,
        distributed: bool | None = None, min_should_match: int = 0,
    ) -> list[tuple[int, float]]:
        """Lucene BooleanQuery under BM25 (the full Solr ``q`` clause
        algebra short of phrases): MUST terms gate the match set
        (strict — a MUST term absent from the index matches nothing),
        SHOULD terms add score when present (a pure-SHOULD query is the
        ordinary OR search), MUST_NOT terms exclude their docs (Lucene
        MUST_NOT: a pure-negative query matches nothing), and ``boosts``
        scales a term's idf (Solr ``term^2.5``). Modern Lucene's
        BM25Similarity has no coord() factor and neither does this.

        ``min_should_match`` = Lucene's minimumNumberShouldMatch (Solr
        dismax ``mm``): a matching doc must additionally contain at least
        that many SHOULD clauses — one clause per DISTINCT should term
        after analysis (our dedup rule), clauses counted whether or not
        the term is indexed (an unindexed clause can never match, so
        ``mm`` > index-present clauses matches nothing, Lucene's rule).

        MUST_NOT at scale: the prohibited terms' postings are decoded
        ids-only WHERE THE SCORER RUNS — per part bucket on the executors
        in the distributed route — and merged into its deleted set; the
        exclusion set never crosses the network (each part only ever sees
        its own stripe's prohibited ids). ``where`` composes as the usual
        fq predicate. Auto-routing follows :meth:`search`: byte-estimate
        guard over scored AND prohibited terms (the driver route fetches
        MUST_NOT postings too, so a cheap +rare query with a hot "-the"
        clause belongs on the executors), filtered queries always
        distributed."""
        norm = lambda xs: [t for x in xs for t in tokenize(x)]  # noqa: E731
        must_t = sorted(set(norm(must)))
        should_t = sorted(set(norm(should)) - set(must_t))
        boosts = boosts or {}
        spec = ([([t], float(boosts.get(t, 1.0))) for t in must_t],
                [(t, float(boosts.get(t, 1.0))) for t in should_t],
                sorted(set(norm(must_not))), [], [])
        return self._search_clauses(spec, k, where, distributed,
                                    mm=int(min_should_match))

    def search_grouped_boolean(
        self, groups: list[tuple[list[str], float]],
        should: list[str] = (), must_not: list[str] = (), *,
        boosts: dict[str, float] | None = None, k: int = 10,
        where: str | None = None, distributed: bool | None = None,
    ) -> list[tuple[int, float]]:
        """BooleanQuery whose MUST side is a list of at-least-one-of term
        GROUPS — Lucene's ``+(a b c)`` shape, the rewrite target of MUST
        wildcard/fuzzy clauses (:meth:`search_lucene` routes them here; a
        plain MUST term arrives as a singleton group). Each group entry is
        ``(terms, boost)``: the group gates matching (≥1 member present),
        every PRESENT member contributes ``boost·idf(t)·tf/(tf+K(dl))``,
        and a group with NO index-present member means the whole query
        matches nothing (Lucene: an empty rewritten MUST clause is
        MatchNoDocs). SHOULD / MUST_NOT / ``boosts`` / ``where`` behave as
        in :meth:`search_boolean`; routing uses the same byte estimate
        over ALL touched terms."""
        norm = lambda xs: [t for x in xs for t in tokenize(x)]  # noqa: E731
        groups_t = [(sorted(set(norm(g))), float(b)) for g, b in groups]
        group_terms = {t for g, _ in groups_t for t in g}
        should_t = sorted(set(norm(should)) - group_terms)
        boosts = boosts or {}
        spec = (groups_t, [(t, float(boosts.get(t, 1.0))) for t in should_t],
                sorted(set(norm(must_not))), [], [])
        return self._search_clauses(spec, k, where, distributed)

    def _search_clauses(
        self, spec, k: int, where: str | None, distributed: bool | None,
        mm: int = 0,
    ) -> list[tuple[int, float]]:
        """Execute one clause tree (the spec of :func:`_local_clauses`):
        boolean, grouped and MIXED clause sets — phrases interleaved with
        term clauses, the composition Lucene's BooleanQuery performs
        natively (``+"table hash" filter -dup``; spec from
        :func:`_mixed_spec`, positional index required).

        Plan shape: ONE termstats scan (stats + routing + idf; a required
        clause with no indexed member is MatchNoDocs right here), ONE
        term-pruned block fetch — WITH positions when the spec has phrase
        clauses — then :func:`_local_clauses` on the route
        :meth:`_route` picks (positions make the true fetch ~1.2× the
        CORE byte estimate — same documented lean as
        :meth:`search_phrase`). Disjoint doc-id stripes make phrase
        matching bucket-local on the executor route."""
        term_groups, should_terms, must_not, phrases, not_phrases = spec
        positional = bool(phrases or not_phrases)
        if positional:
            self._require_positional()
        phrase_terms = {t for toks, *_ in phrases for t in toks}
        np_terms = {t for toks, _ in not_phrases for t in toks}
        scored = ({t for g, _ in term_groups for t in g}
                  | {t for t, _ in should_terms} | phrase_terms)
        if not scored:
            return []
        all_stats = self.term_stats(sorted(scored | set(must_not)
                                           | np_terms))
        for g, _ in term_groups:
            if not any(t in all_stats for t in g):
                return []
        for toks, required, _, _ in phrases:
            if required and any(t not in all_stats for t in toks):
                return []
        idfs = {t: self._idf(s["df"]) for t, s in all_stats.items()
                if t in scored}
        if not idfs:
            return []
        # prohibited terms and prohibited-phrase terms fetch too (their ids
        # are excluded where the scorer runs)
        fetch = sorted(set(idfs) | set(must_not)
                       | (np_terms & set(all_stats)))
        local = partial(_local_clauses, spec=spec, idfs=idfs, k=k,
                        avgdl=self.avgdl, mm=mm)
        return self._top_k(local, fetch, k, where,
                           self._route(all_stats, where, distributed),
                           positions=positional)

    def search_lucene(
        self, q: str, k: int = 10, *, where: str | None = None,
        distributed: bool | None = None, min_should_match: int = 0,
    ) -> list[tuple[int, float]]:
        """Search with Lucene classic query syntax (the Solr ``q`` string
        the reference's production surface speaks): ``+required``,
        ``-prohibited``, ``"exact phrase"`` (+ ``~slop``), ``term^boost``,
        ``wild*ard`` and ``fuzzy~N`` — parsed by :mod:`.qparse` and routed
        onto the columnar core.

        Multi-term clauses (wildcard/fuzzy) expand against the term
        dictionary (:meth:`expand_wildcard` / :meth:`expand_fuzzy`, one
        termstats scan each, deterministic top-df caps): SHOULD expansions
        join the should list, MUST_NOT expansions the prohibited list, and
        MUST expansions become at-least-one-of groups
        (:meth:`search_grouped_boolean`) — Lucene's SCORING_BOOLEAN
        rewrite, every expanded term scoring with its own idf under the
        clause's boost.

        Routing: a lone unboosted phrase clause runs
        :meth:`search_phrase` (slop honored, byte-based auto-routing);
        phrase clauses MIXED with any other clause (or boosted, or
        several) run one clause tree (:meth:`_search_clauses` — required
        phrases gate as their own unit groups, optional ones ride). Pure
        term-clause queries run :meth:`search_boolean` (or
        :meth:`search_grouped_boolean` when MUST expansions exist)."""
        from .qparse import parse_query

        p = parse_query(q)
        if min_should_match and (p.phrases or p.not_phrases
                                 or p.wildcards or p.fuzzies):
            raise ValueError(
                "min_should_match is supported for plain term clauses "
                "only — Lucene counts an expanded/phrase clause as ONE "
                "optional clause, which our flattened rewrite cannot "
                "honor; compose via search_boolean if needed")
        if (len(p.phrases) == 1 and p.phrases[0][2] == 1.0
                and not (p.must or p.should or p.must_not or p.wildcards
                         or p.fuzzies or p.not_phrases)):
            toks, _required, _boost, slop = p.phrases[0]
            return self.search_phrase(" ".join(toks), k, where=where,
                                      slop=slop, distributed=distributed)
        should = [t for t, _ in p.should]
        must_not = list(p.must_not)
        boosts = dict(p.boosts)
        must_groups: list[tuple[list[str], float]] = []
        expansions = (
            [(self.expand_wildcard(pat), occ, b)
             for pat, occ, b in p.wildcards]
            + [(self.expand_fuzzy(t, e), occ, b)
               for t, e, occ, b in p.fuzzies]
        )
        if p.phrases or p.not_phrases:
            spec = _mixed_spec(p, expansions)
            if spec is None:
                return []  # empty rewritten MUST clause: MatchNoDocs
            return self._search_clauses(spec, k, where, distributed)
        for exp, occ, b in expansions:
            if occ == "-":
                must_not.extend(exp)
            elif occ == "+":
                if not exp:
                    return []  # empty rewritten MUST clause: MatchNoDocs
                must_groups.append((exp, b))
            else:
                should.extend(exp)
                if b != 1.0:
                    for t in exp:
                        boosts.setdefault(t, b)
        if must_groups:
            # plain MUST terms ride as singleton groups, dedup first-boost-
            # wins, SORTED — the same group order the SQL-surface twin
            # builds, so float summation order (and thus scores to the ulp)
            # agree across surfaces
            must_dedup: dict[str, float] = {}
            for t, b in p.must:
                must_dedup.setdefault(t, b)
            must_groups = ([([t], b) for t, b in sorted(must_dedup.items())]
                           + must_groups)
            return self.search_grouped_boolean(
                must_groups, should, must_not, boosts=boosts, k=k,
                where=where, distributed=distributed)
        return self.search_boolean(
            [t for t, _ in p.must], should, must_not,
            boosts=boosts, k=k, where=where, distributed=distributed,
            min_should_match=min_should_match)

    def matched_docs(
        self, query: str, *, mode: str = "or", where: str | None = None,
        _stats: dict | None = None,
    ) -> DataFrame:
        """The query's FULL match set as a declarative DataFrame of
        doc_ids (no scoring): term-pruned postings decode → per-doc
        distinct-term count (AND = all terms), fq semi-join, tombstone
        anti-join. The substrate for the non-scoring serving surfaces
        (sort-by-field, grouping) — Solr computes these over the match
        set, not the top-k page."""
        if mode not in ("or", "and"):
            raise ValueError(f"unknown mode: {mode!r}")
        terms = sorted(set(tokenize(query)))
        stats = self.term_stats(terms) if _stats is None else \
            {t: _stats[t] for t in terms if t in _stats}
        empty = self.spark.createDataFrame([], "doc_id long")
        if not stats or (mode == "and" and len(stats) < len(terms)):
            return empty
        matched = (
            self.postings_view(sorted(stats))
            .groupBy("doc_id")
            .agg(F.count_distinct("term").alias("_nterms"))
        )
        if mode == "and":
            matched = matched.filter(F.col("_nterms") == len(terms))
        matched = matched.select("doc_id")
        if where is not None:
            visible = (
                self._read(self.paths.docstore)
                .filter(where).select("doc_id")
            )
            matched = matched.join(visible, "doc_id", "left_semi")
        if len(self.tombstones):
            tomb = self._read(
                self._tomb_path).select("doc_id").distinct()
            matched = matched.join(tomb, "doc_id", "left_anti")
        return matched

    def _synonym_groups(self, query: str,
                        synonyms: dict[str, list[str]]):
        """Query tokens → synonym groups [(name, live members, idf)]: one
        group per distinct token, members deduped and pruned to indexed
        terms (groups with none dropped), idf from the max member df
        (SynonymQuery's docFreq blend); plus the sorted live member
        union. ONE termstats scan."""
        groups = []
        for t in sorted(set(tokenize(query))):
            members = sorted({t, *(synonyms.get(t) or [])})
            groups.append(("|".join(members), members))
        stats = self.term_stats(sorted({m for _, ms in groups for m in ms}))
        spec = []
        for name, members in groups:
            live = [m for m in members if m in stats]
            if live:
                spec.append((name, live,
                             self._idf(max(stats[m]["df"] for m in live))))
        return spec, sorted({m for _, ms, _ in spec for m in ms})

    def _search_synonyms(self, query, synonyms, k, where, distributed):
        groups, live_terms = self._synonym_groups(query, synonyms)
        if not groups:
            return []
        local = partial(_local_synonyms, groups=groups, k=k,
                        avgdl=self.avgdl)
        return self._top_k(local, live_terms, k, where, distributed)

    def search_synonyms(
        self, query: str, synonyms: dict[str, list[str]], k: int = 10, *,
        where: str | None = None,
    ) -> list[tuple[int, float]]:
        """Query-time synonym expansion with Lucene SynonymQuery scoring:
        each query term and its synonyms form ONE scorer — tf at a doc is
        the sum of member tfs, idf comes from the max member df — so a
        doc never scores a concept twice just for using both spellings
        (the Solr SynonymGraphFilter query-time shape). Exact top-k under
        (score desc, doc_id asc); groups whose every member is unindexed
        simply contribute nothing.

        Driver route (block fetch is one term-pruned scan over the union
        of member terms); see :meth:`search_synonyms_distributed` for the
        per-part executor shape."""
        return self._search_synonyms(query, synonyms, k, where, False)

    def search_synonyms_distributed(
        self, query: str, synonyms: dict[str, list[str]], k: int = 10, *,
        where: str | None = None,
    ) -> list[tuple[int, float]]:
        """:meth:`search_synonyms` on the executor route: one group per
        index part bucket (disjoint doc ids, so the merge of per-part exact
        top-k is the global answer), idfs computed once from a single
        termstats scan and shipped in the closure, fq cogrouped per part.
        Rank- and score-identical to the driver route."""
        return self._search_synonyms(query, synonyms, k, where, True)

    def explain_query(self, query: str, *, mode: str = "or",
                      where: str | None = None) -> dict:
        """Solr ``debugQuery`` analog, planner-side: what the engine KNOWS
        about a query before running it — per-term df/idf/packed-block
        bytes from build-time metadata, the estimated fetch volume, the
        routing decision search() would take and why, terms absent from
        the index, and whether an and-mode query is unsatisfiable. ONE
        termstats scan, no blocks touched — safe to call on every query
        of a production workload for routing audits."""
        if mode not in ("or", "and"):
            raise ValueError(f"unknown mode: {mode!r}")
        terms = sorted(set(tokenize(query)))
        stats = self.term_stats(terms)
        per_term = {
            t: {
                "df": stats[t]["df"],
                "idf": self._idf(stats[t]["df"]),
                "bytes": stats[t]["bytes"],
            } if t in stats else None
            for t in terms
        }
        missing = [t for t in terms if t not in stats]
        est_bytes = (sum(s["bytes"] for s in stats.values())
                     if stats and all(s["bytes"] is not None
                                      for s in stats.values()) else None)
        if where is not None:
            route, reason = "distributed", "fq filters always route " \
                "distributed (visibility set stays executor-side)"
        elif not stats:
            # search() still takes the driver path (trivially empty) —
            # report what it actually does so route == last_path always
            route, reason = "driver", ("no query term is indexed "
                                       "(search() returns empty from the "
                                       "driver path)")
        elif est_bytes is not None:
            big = est_bytes > self.DISTRIBUTED_FETCH_BYTES
            route = "distributed" if big else "driver"
            reason = (f"estimated fetch {est_bytes} bytes "
                      f"{'>' if big else '<='} "
                      f"{self.DISTRIBUTED_FETCH_BYTES} threshold")
        else:
            tot = sum(s["df"] for s in stats.values())
            big = tot > self.DISTRIBUTED_POSTINGS_THRESHOLD
            route = "distributed" if big else "driver"
            reason = (f"no byte metadata (pre-r4 index): Σdf {tot} "
                      f"{'>' if big else '<='} "
                      f"{self.DISTRIBUTED_POSTINGS_THRESHOLD}")
        return {
            "terms": per_term,
            "missing_terms": missing,
            "est_fetch_bytes": est_bytes,
            "route": route,
            "route_reason": reason,
            "and_unsatisfiable": mode == "and" and bool(missing),
            "n_docs": self.n_docs,
            "avgdl": self.avgdl,
        }

    def facet_queries(
        self, queries: dict[str, str], *, mode: str = "or",
        where: str | None = None,
    ) -> DataFrame:
        """Solr ``facet.query``: a document count for EACH named subquery
        over the index — the arbitrary-bucket companion of facet.field
        (Collex sidebars mix field facets with canned query facets).

        One COUNT job for the whole set: each subquery's declarative
        match set (:meth:`matched_docs` — term-pruned decode, fq
        semi-join, tombstone anti-join) is tagged and unioned, a single
        partial-aggregated count per tag comes back, and a generated name
        spine left-join restores Solr's explicit zero counts for
        subqueries matching nothing; every subquery's term statistics
        resolve in one batched termstats scan up front (not one metadata
        job per subquery). Returns (facet_query, n)."""
        if not queries:
            raise ValueError("facet_queries needs at least one subquery")
        all_terms = sorted({t for q in queries.values()
                            for t in set(tokenize(q))})
        stats = self.term_stats(all_terms)
        tagged = [
            self.matched_docs(q, mode=mode, where=where, _stats=stats)
            .select(F.lit(name).alias("facet_query"), "doc_id")
            for name, q in sorted(queries.items())
        ]
        union = tagged[0]
        for t in tagged[1:]:
            union = union.unionByName(t)
        spine = self.spark.createDataFrame(
            [(n,) for n in sorted(queries)], "facet_query string")
        counts = union.groupBy("facet_query").agg(
            F.count("*").cast("long").alias("n"))
        return (
            spine.join(counts, "facet_query", "left")
            .select("facet_query",
                    F.coalesce("n", F.lit(0)).cast("long").alias("n"))
        )

    def facet_range(
        self, query: str, field: str, start: float, end: float, gap: float,
        *, mode: str = "or", where: str | None = None,
    ) -> DataFrame:
        """Solr ``facet.range``: bucketed counts of a stored numeric field
        over the query's FULL match set — buckets are ``[start+i·gap,
        start+(i+1)·gap)`` and EVERY bucket in ``[start, end)`` is
        returned, zeros included (Solr's contract; the UI draws the empty
        bars). Declarative: match set ⋈ pruned docstore → floor-bucket →
        partial-agg count → left join onto a generated bucket spine.
        Returns (bucket_start, n) ordered by bucket."""
        if gap <= 0 or end <= start:
            raise ValueError("facet_range needs gap > 0 and end > start")
        n_buckets = int(math.ceil((end - start) / gap))
        spine = self.spark.range(n_buckets).select(
            (F.lit(float(start)) + F.col("id") * F.lit(float(gap))
             ).alias("bucket_start"))
        meta = self._read(self.paths.docstore).select(
            "doc_id", field)
        bucket = (F.lit(float(start)) + F.floor(
            (F.col(field) - F.lit(float(start))) / F.lit(float(gap))
        ) * F.lit(float(gap))).alias("bucket_start")
        counts = (
            self.matched_docs(query, mode=mode, where=where)
            .join(meta, "doc_id")
            .filter((F.col(field) >= start) & (F.col(field) < end))
            .select(bucket)
            .groupBy("bucket_start")
            .agg(F.count("*").alias("n"))
        )
        return (
            spine.join(counts, "bucket_start", "left")
            .select("bucket_start",
                    F.coalesce("n", F.lit(0)).cast("long").alias("n"))
            .orderBy("bucket_start")
        )

    def field_stats(
        self, query: str, field: str, *, mode: str = "or",
        where: str | None = None,
    ) -> DataFrame:
        """Solr stats component (``stats.field=<f>``): count/min/max/sum/
        mean of a stored numeric field over the query's full match set —
        one partial-aggregated pass, one row out."""
        meta = self._read(self.paths.docstore).select(
            "doc_id", field)
        return (
            self.matched_docs(query, mode=mode, where=where)
            .join(meta, "doc_id")
            .agg(
                F.count("*").cast("long").alias("n"),
                F.min(field).alias("min"),
                F.max(field).alias("max"),
                F.sum(field).alias("sum"),
                F.round(F.avg(field), 6).alias("mean"),
            )
        )

    def terms(
        self, prefix: str | None = None, *, limit: int = 20,
    ) -> DataFrame:
        """Solr terms component (``terms.fl``/``terms.prefix`` — the
        autocomplete/dictionary-browse surface): enumerate the term
        dictionary with document frequencies, optionally prefix-filtered,
        ordered by (df desc, term asc), top ``limit``.

        One termstats scan — the prefix is a ``startswith`` Column filter
        that pushes down to the parquet reader (StringStartsWith), and the
        top-N is a TakeOrdered, so only ``limit`` rows reach the driver
        side of the plan no matter the dictionary size. Like Lucene
        ``docFreq``, counts are index-level and do not subtract tombstoned
        docs until a compact (COVERAGE.md notes the parity)."""
        ts = self._read(self.paths.termstats).select(
            "term", F.col("df").cast("long").alias("df"))
        if prefix:
            ts = ts.filter(F.col("term").startswith(prefix))
        return ts.orderBy(F.desc("df"), F.asc("term")).limit(limit)

    def facet_pivot(
        self, query: str, fields: list[str], *, mode: str = "or",
        where: str | None = None, top: int = 5,
    ) -> DataFrame:
        """Solr pivot facets (``facet.pivot=f1,f2``): nested value counts
        over the query's FULL match set — for each value of ``fields[0]``,
        the ``top`` values of ``fields[1]`` by (n desc, value asc).

        Same scale shape as :meth:`facet_counts`: the match set ∩ metadata
        step is a COGROUPED per-part kernel (ids-only block decode, numpy
        membership mask, per-part PARTIAL pair counts), so the final
        groupBy sees ≤ parts × |f1×f2 observed| rows — nothing proportional
        to corpus size past the scans. Returns (parent_value, facet_value,
        n) with ``fields[0]`` values cast to string like facet_counts."""
        if mode not in ("or", "and"):
            raise ValueError(f"unknown mode: {mode!r}")
        if len(fields) != 2:
            raise ValueError("facet_pivot takes exactly two fields")
        self._check_facet_fields(fields)
        f1, f2 = fields
        tomb_bc = self._tomb_bc
        out_schema = "parent_value string, facet_value string, cnt long"

        def _pair_counts(doc_pdf, matched: np.ndarray | None):
            import pandas as pd

            sub = doc_pdf
            deleted = tomb_bc.value
            if deleted is not None and len(deleted):
                sub = sub[~sub["doc_id"].isin(deleted)]
            if matched is not None:
                sub = sub[np.isin(sub["doc_id"].values.astype(np.int64),
                                  matched)]
            if not len(sub):
                return pd.DataFrame({
                    "parent_value": pd.Series(dtype="object"),
                    "facet_value": pd.Series(dtype="object"),
                    "cnt": pd.Series(dtype="int64")})
            g = (sub.groupby([f1, f2], dropna=False).size()
                 .reset_index(name="cnt"))
            return pd.DataFrame({
                "parent_value": g[f1].astype("object"),
                "facet_value": g[f2].astype("object"),
                "cnt": g["cnt"].astype("int64")})

        partial = self._matchset_partials(query, mode, where, fields,
                                          _pair_counts, out_schema)
        if partial is None:
            return self.spark.createDataFrame([], out_schema).select(
                "parent_value", "facet_value", F.col("cnt").alias("n"))
        from pyspark.sql import Window

        w = Window.partitionBy("parent_value").orderBy(
            F.desc("n"), F.asc_nulls_last("facet_value"))
        return (
            partial.groupBy("parent_value", "facet_value")
            .agg(F.sum("cnt").alias("n"))
            .withColumn("_r", F.row_number().over(w))
            .filter(F.col("_r") <= top)
            .drop("_r")
        )

    def search_reranked(
        self, query: str, k: int = 10, *, rerank_k: int = 50,
        boost_field: str, boost_weight: float = 1.0, mode: str = "or",
        where: str | None = None,
    ) -> list[tuple[int, float]]:
        """Solr rerank / additive function-query boost (``rq={!rerank
        reRankDocs=N}`` with a ``bf=field`` boost, the
        recency/popularity-boost production shape): fetch the BM25 top
        ``rerank_k`` candidates, rescore each as ``bm25 + boost_weight ×
        boost_field`` (a stored numeric docstore field, NULL → 0), and
        return the top ``k`` under (score desc, doc_id asc).

        Scale shape: candidates come from the executor route
        (≤ parts·rerank_k rows to the driver); the rescore joins the
        BROADCAST candidate list against the pruned docstore scan
        (doc_id + one numeric column), so the big side never shuffles.
        Exact within the candidate window, like Lucene's ReRankQuery —
        a doc outside the BM25 top-``rerank_k`` cannot enter the page."""
        cands = self.search_wand_distributed(
            query, rerank_k, mode=mode, where=where)
        if not cands:
            return []
        cdf = self.spark.createDataFrame(
            [(int(d), float(s)) for d, s in cands],
            "doc_id long, score double")
        meta = self._read(self.paths.docstore).select(
            "doc_id", F.col(boost_field).cast("double").alias("_bf"))
        rows = (
            meta.join(F.broadcast(cdf), "doc_id")
            .select(
                "doc_id",
                (F.col("score") + F.lit(float(boost_weight)) *
                 F.coalesce("_bf", F.lit(0.0))).alias("score"))
            .orderBy(F.desc("score"), F.asc("doc_id"))
            .limit(k)
            .collect()
        )
        return [(int(r["doc_id"]), float(r["score"])) for r in rows]

    def search_sorted(
        self, query: str, sort_by: str, *, ascending: bool = True,
        k: int = 10, mode: str = "or", where: str | None = None,
    ) -> DataFrame:
        """Solr ``sort=<field> asc|desc``: the top-k of the query's match
        set ordered by a STORED field (docstore metadata / doc values)
        instead of relevance — no scores are computed, exactly like Solr
        skips scoring for non-score sorts. doc_id breaks ties so the page
        is deterministic. Declarative plan: match set ⋈ pruned docstore
        (doc_id, field) → global top-k (TakeOrdered — only k rows move).
        Returns (doc_id, <sort_by>)."""
        meta = self._read(self.paths.docstore).select(
            "doc_id", sort_by)
        order = [F.asc(sort_by) if ascending else F.desc(sort_by),
                 F.asc("doc_id")]
        return (
            self.matched_docs(query, mode=mode, where=where)
            .join(meta, "doc_id")
            .orderBy(*order)
            .limit(k)
        )

    def search_grouped(
        self, query: str, group_by: str, *, k_groups: int = 5,
        k_per_group: int = 2, mode: str = "or", where: str | None = None,
    ) -> DataFrame:
        """Solr result grouping / field collapse (``group=true&group.field=
        <f>``): the top ``k_per_group`` docs by BM25 within each value of a
        stored field, for the ``k_groups`` best groups — groups ranked by
        their best doc's score (Solr's default group ordering), ties by
        group value. Declarative composition: the exhaustive scorer's full
        match-set scores ⋈ pruned docstore metadata → two window ranks —
        Catalyst plans it, partial aggregation keeps the group ranking
        shuffle at |groups| rows. Returns (group value, doc_id, score,
        doc_rank)."""
        from pyspark.sql import Window

        scored = self.score_exhaustive(query, k=None, mode=mode,
                                       where=where)
        meta = self._read(self.paths.docstore).select(
            "doc_id", group_by)
        joined = scored.join(meta, "doc_id")
        w_doc = Window.partitionBy(group_by).orderBy(
            F.desc("score"), F.asc("doc_id"))
        ranked = joined.withColumn("doc_rank", F.row_number().over(w_doc)) \
            .filter(F.col("doc_rank") <= k_per_group)
        top_groups = (
            joined.groupBy(group_by)
            .agg(F.max("score").alias("_gs"))
            .orderBy(F.desc("_gs"), F.asc(group_by))
            .limit(k_groups)
            .select(group_by)
        )
        return ranked.join(F.broadcast(top_groups), group_by).select(
            group_by, "doc_id", "score", "doc_rank")

    # Auto-select guards for search(). Primary: estimated FETCH BYTES — the
    # actual cost of the driver route is pulling the query terms' packed
    # blocks to one machine, and byte size is what build-time block metadata
    # measures exactly (termstats.bytes = Σ bin_bytes). Past a few MB the
    # executor route's extra job overhead is already amortized and the
    # driver stops being a bandwidth funnel.
    DISTRIBUTED_FETCH_BYTES = 4 << 20
    # Fallback for pre-r4 indexes whose termstats lack the bytes column:
    # ~500k postings ≈ a few MB of packed blocks.
    DISTRIBUTED_POSTINGS_THRESHOLD = 500_000

    def search(
        self, query: str, k: int = 10, *, distributed: bool | None = None,
        mode: str = "or", where: str | None = None,
        after: tuple[int, float] | None = None,
    ) -> DataFrame:
        """Default query path. ``distributed=None`` auto-selects: the
        executor route (:meth:`search_wand_distributed` — the cluster-scale
        shape, nothing bigger than parts·k rows reaches the driver) unless
        the query's estimated block-fetch volume (from build-time metadata,
        see :meth:`term_stats`) is small enough that the driver route is a
        cheap fast path. Filtered queries (``where``) ALWAYS route
        distributed: the fq predicate evaluates executor-side there, so the
        visible-id set never funnels through the driver regardless of the
        predicate's selectivity. Both routes are rank- and score-identical
        (asserted in tests/test_index.py). The chosen route is recorded in
        ``self.last_path`` ("driver" | "distributed").

        ONE termstats scan serves routing AND idf computation — the stats
        fetched here are passed down to the chosen route.

        ``after`` = the previous page's last (doc_id, score) hit (Solr
        cursorMark / Lucene searchAfter): returns the next ``k`` results
        strictly after it in (score desc, doc_id asc) order — stateless
        deep paging with no ``start`` offset, so page 10^6 costs the same
        one scoring pass as page 1 (Solr's start=N deep paging materializes
        N+k candidates per shard; the cursor form is why CursorMark
        exists)."""
        terms = sorted(set(tokenize(query)))
        stats = self.term_stats(terms)
        idfs = {t: self._idf(s["df"]) for t, s in stats.items()}
        hits = self._search_terms(query, k, mode, where, idfs, after,
                                  self._route(stats, where, distributed))
        return self.spark.createDataFrame(
            [(int(d), float(s), r + 1) for r, (d, s) in enumerate(hits)],
            "doc_id long, score double, rank int",
        )


def _decode_blocks_stream(batches):
    """mapInPandas kernel: packed block rows → (term, doc_id, tf, dl)."""
    import pandas as pd

    for pdf in batches:
        terms, ids, tfs, dls = [], [], [], []
        for term, ib, tb, db in zip(pdf["term"], pdf["ids_bin"],
                                    pdf["tfs_bin"], pdf["dls_bin"]):
            i, t, d = unpack_block(bytes(ib), bytes(tb), bytes(db))
            terms.extend([term] * len(i))
            ids.append(i)
            tfs.append(t)
            dls.append(d)
        if not ids:
            continue
        yield pd.DataFrame({
            "term": terms,
            "doc_id": np.concatenate(ids),
            "tf": np.concatenate(tfs),
            "dl": np.concatenate(dls),
        })


def _decode_blocks_pos_stream(batches):
    """mapInPandas kernel: packed POSITIONAL block rows →
    (term, doc_id, tf, dl, positions)."""
    import pandas as pd

    for pdf in batches:
        terms, ids, tfs, dls, poss = [], [], [], [], []
        for term, ib, tb, db, pb in zip(pdf["term"], pdf["ids_bin"],
                                        pdf["tfs_bin"], pdf["dls_bin"],
                                        pdf["pos_bin"]):
            if pb is None:
                raise ValueError(
                    "not a positional index: block lacks pos_bin")
            i, t, d = unpack_block(bytes(ib), bytes(tb), bytes(db))
            flat, offs = unpack_positions(bytes(pb), t)
            terms.extend([term] * len(i))
            ids.append(i)
            tfs.append(t)
            dls.append(d)
            poss.extend(
                flat[offs[j]:offs[j + 1]].astype(np.int32).tolist()
                for j in range(len(i))
            )
        if not ids:
            continue
        yield pd.DataFrame({
            "term": terms,
            "doc_id": np.concatenate(ids),
            "tf": np.concatenate(tfs),
            "dl": np.concatenate(dls),
            "positions": poss,
        })


def _decode_blocks_compact(positional: bool):
    """mapInPandas kernel factory for maintenance compaction
    (maintain.compact_index): packed block rows → full posting rows
    (part, term, doc_id, tf, dl[, positions]) so survivors can be
    re-packed after dropping tombstoned docs. Unlike the query-path
    kernels this keeps ``part`` (the re-pack is part-aligned) and,
    when ``positional``, carries every posting's position list through
    so compaction preserves phrase capability."""

    def kernel(batches):
        import pandas as pd

        for pdf in batches:
            outs = []
            for rec in pdf.to_dict("records"):
                ids, tfs, dls = unpack_block(
                    bytes(rec["ids_bin"]), bytes(rec["tfs_bin"]),
                    bytes(rec["dls_bin"]))
                out = pd.DataFrame({
                    "part": np.full(len(ids), rec["part"], dtype=np.int32),
                    "term": rec["term"],
                    "doc_id": ids,
                    "tf": tfs,
                    "dl": dls,
                })
                if positional:
                    pb = rec["pos_bin"]
                    if pb is None:
                        raise ValueError(
                            "positional compaction hit a block without "
                            "pos_bin")
                    flat, offs = unpack_positions(bytes(pb), tfs)
                    out["positions"] = [
                        flat[offs[j]:offs[j + 1]].tolist()
                        for j in range(len(ids))
                    ]
                outs.append(out)
            if outs:
                yield pd.concat(outs, ignore_index=True)

    return kernel



# ---------------------------------------------------------------------------
# The scoring core.
#
# Every query shape is a list of scoring UNITS, each ``(weight, ids, tf_f64,
# dl_f64)`` contributing weight·tf/(tf + K1·(1 − B + B·dl/avgdl)) at its docs:
#   * a term: weight = boost·idf, its postings' tf;
#   * a synonym group (Lucene SynonymQuery): weight = idf of the max member
#     df, tf = Σ member tfs at the doc;
#   * a phrase (Lucene PhraseQuery): weight = boost·Σ idf over its tokens
#     (with multiplicity), tf := pf, the phrase frequency, at the docs where
#     it matches.
# ``_vec_topk`` scores all units in one numpy pass over the decoded arrays
# and selects the exact top-k. Nothing is skipped: no block-max pruning
# happens today (the blocks' max_tf/dl_min bounds are written at build time
# but the query path does not read them). For the posting volumes one part
# bucket holds, the columnar pass is 50-100× cheaper than a per-posting
# interpreted walk — WAND would have to prune >99% of postings to win.
#
# Determinism: each doc's score is an IEEE-754 left fold in a fixed unit
# order — required groups in caller order (members ascending by term), then
# optional units ascending by key (a term's key is the term, a phrase's
# '"tok tok"') — and the top-k tie-break is (score desc, doc_id asc). The
# driver, per-part and SQL routes run the same functions on the same units,
# so their hits agree to the bit (asserted, and pinned by golden outputs,
# in tests/test_index.py). Per-part memory is O(postings of the query's
# terms in the part), the bound the decode-stream kernels already carry.
# ---------------------------------------------------------------------------

def _norm(dl, avgdl: float):
    """BM25 length normalization K(dl) = k1·(1 − b + b·dl/avgdl), for a
    scalar or an array of doc lengths."""
    return K1 * (1.0 - B + B * dl / avgdl)


def _by_term(recs) -> dict[str, list]:
    """Block records (Rows or dicts) → ``{term: blocks sorted by
    first_doc_id}`` — the input every local top-k takes."""
    by_term: dict[str, list] = {}
    for r in recs:
        by_term.setdefault(r["term"], []).append(r)
    for blocks in by_term.values():
        blocks.sort(key=lambda r: r["first_doc_id"])
    return by_term


def _decode_term_arrays(blocks: list, positions: bool = False) -> tuple:
    """One term's sorted block list → (ids, tf_f64, dl_f64), plus the flat
    position array (each posting's tf positions, postings in doc order)
    when ``positions``."""
    cols = [unpack_block(bytes(b["ids_bin"]), bytes(b["tfs_bin"]),
                         bytes(b["dls_bin"])) for b in blocks]
    ids, tfs, dls = (np.concatenate(c) for c in zip(*cols))
    out = (ids, tfs.astype(np.float64), dls.astype(np.float64))
    if positions:
        out += (np.concatenate([unpack_positions(bytes(b["pos_bin"]), c[1])[0]
                                for b, c in zip(blocks, cols)]),)
    return out


def _syn_unit(idf: float, members: list[tuple]) -> tuple:
    """Merge a synonym group's member arrays into one pseudo-term unit: tf
    at a doc is the SUM of member tfs (integer-valued floats — exact in any
    order), dl is the doc's length (identical across members)."""
    ids_c = np.concatenate([m[0] for m in members])
    uids, inv = np.unique(ids_c, return_inverse=True)
    tf_sum = np.zeros(len(uids))
    np.add.at(tf_sum, inv, np.concatenate([m[1] for m in members]))
    dl_u = np.zeros(len(uids))
    dl_u[inv] = np.concatenate([m[2] for m in members])
    return (idf, uids, tf_sum, dl_u)


def _phrase_unit(toks: list[str], by_term: dict[str, list], slop: int,
                 weight: float) -> tuple | None:
    """A phrase as one scoring unit ``(weight, ids, pf_f64, dl_f64)`` over
    the docs where it matches; None when a member term has no postings
    here (the phrase cannot occur).

    ``slop=0`` (exact, Lucene PhraseQuery): pf = the number of start
    positions p with toks[i] at p+i for every slot i. ``slop>0``: ORDERED
    near-match — Lucene SpanNearQuery(inOrder=true, slop), not classic
    PhraseQuery's transposing sloppy scorer (documented deviation; the
    classic parser's ``"a b"~N`` maps here). A start q of toks[0] matches
    iff the GREEDY chain (each next token at its smallest position strictly
    after the previous slot's) spans ≤ slop intervening positions:
    p_last − q − (m−1) ≤ slop. Greedy minimizes the final position for a
    given start, so it decides existence exactly; pf counts matching starts
    unweighted (vs Lucene's 1/(distance+1) weighting).

    Vectorized over all docs at once: positions of the docs holding every
    distinct token become keys ``doc_rank·span + pos`` (span exceeds every
    position plus the phrase length, so no two docs' keys meet, even after
    the slot shift). Exact phrases intersect the slot-shifted keys; sloppy
    ones run the greedy chain as one ``searchsorted`` per slot with a
    same-doc check."""
    uniq = sorted(set(toks))
    if any(t not in by_term for t in uniq):
        return None
    arrs = {t: _decode_term_arrays(by_term[t], positions=True) for t in uniq}
    common = arrs[uniq[0]][0]
    for t in uniq[1:]:
        common = np.intersect1d(common, arrs[t][0], assume_unique=True)
    if not len(common):
        return (weight, common, np.zeros(0), np.zeros(0))
    span = max(int(a[3].max()) for a in arrs.values()) + len(toks) + 1
    keys = {}
    for t, (ids, tfs, _, pos) in arrs.items():
        rank = np.searchsorted(common, ids)
        inside = np.repeat(common[np.minimum(rank, len(common) - 1)] == ids,
                           tfs.astype(np.int64))
        keys[t] = (np.repeat(rank, tfs.astype(np.int64))[inside] * span
                   + pos[inside])
    starts = keys[toks[0]]
    if slop == 0:
        for i, t in enumerate(toks[1:], 1):
            starts = np.intersect1d(starts, keys[t] - i, assume_unique=True)
    else:
        prev, alive = starts, np.ones(len(starts), dtype=bool)
        for t in toks[1:]:
            p = keys[t]
            nxt = p[np.minimum(np.searchsorted(p, prev, side="right"),
                               len(p) - 1)]
            ok = (nxt > prev) & (nxt // span == prev // span)
            alive &= ok
            prev = np.where(ok, nxt, prev)
        starts = starts[alive & (prev - starts - (len(toks) - 1) <= slop)]
    pf = np.bincount(starts // span, minlength=len(common))
    hit = np.flatnonzero(pf)
    ids0, _, dls0, _ = arrs[uniq[0]]
    return (weight, common[hit], pf[hit].astype(np.float64),
            dls0[np.searchsorted(ids0, common[hit])])


def _vec_topk(
    groups: list[list[tuple]], shoulds: list[tuple], k: int, avgdl: float,
    deleted: np.ndarray | None = None, allowed: np.ndarray | None = None,
    after: tuple[int, float] | None = None, min_should_match: int = 0,
) -> list[tuple[int, float]]:
    """Exact top-k over scoring units (see the section comment above).

    ``groups``: required at-least-one-of unit groups, in accumulation
    order (members already ordered); ``shoulds``: optional units, in
    accumulation order — a doc matches iff it is in every group (or, with
    no groups, in any should unit) and in at least ``min_should_match``
    should units (Lucene's minimumNumberShouldMatch). ``deleted``: sorted
    tombstoned / prohibited doc_ids; ``allowed``: optional sorted
    visibility allowlist (the fq surface); ``after``: cursor-paging mark —
    the previous page's last ``(doc_id, score)`` hit (Lucene
    ``searchAfter`` / Solr cursorMark): only docs STRICTLY after it in
    result order are admitted, so consecutive pages partition the ranking.
    Returns [(doc_id, score)] under (score desc, doc_id asc)."""
    all_ids = [u[1] for g in groups for u in g] + [u[1] for u in shoulds]
    all_ids = [a for a in all_ids if len(a)]
    if not all_ids or k <= 0:
        return []
    universe = np.unique(np.concatenate(all_ids))
    score = np.zeros(len(universe))
    ok = np.ones(len(universe), dtype=bool)
    for g in groups:
        gpresent = np.zeros(len(universe), dtype=bool)
        for (idf, ids, tfs, dls) in g:
            idx = np.searchsorted(universe, ids)
            score[idx] += (idf * tfs) / (tfs + _norm(dls, avgdl))
            gpresent[idx] = True
        ok &= gpresent
    scount = np.zeros(len(universe), dtype=np.int64)
    for (idf, ids, tfs, dls) in shoulds:
        idx = np.searchsorted(universe, ids)
        score[idx] += (idf * tfs) / (tfs + _norm(dls, avgdl))
        scount[idx] += 1
    if min_should_match:
        ok &= scount >= min_should_match
    if deleted is not None and len(deleted):
        pos = np.searchsorted(deleted, universe)
        pos_c = np.minimum(pos, len(deleted) - 1)
        ok &= ~((pos < len(deleted)) & (deleted[pos_c] == universe))
    if allowed is not None:
        if not len(allowed):
            return []
        pos = np.searchsorted(allowed, universe)
        pos_c = np.minimum(pos, len(allowed) - 1)
        ok &= (pos < len(allowed)) & (allowed[pos_c] == universe)
    if after is not None:
        a_doc, a_score = after
        ok &= (score < a_score) | ((score == a_score) & (universe > a_doc))
    cand = np.flatnonzero(ok)
    if not len(cand):
        return []
    cs = score[cand]
    order = np.lexsort((universe[cand], -cs))[:k]
    return [(int(universe[cand[i]]), float(cs[i])) for i in order]


def _local_clauses(
    by_term: dict[str, list], deleted: np.ndarray | None,
    allowed: np.ndarray | None, *, spec, idfs: dict[str, float], k: int,
    avgdl: float, mm: int = 0, after: tuple[int, float] | None = None,
) -> list[tuple[int, float]]:
    """Exact local top-k of one clause tree over a ``term → sorted blocks``
    map — the scorer behind the term (or/and), boolean, grouped, phrase and
    mixed query shapes, run unchanged by the driver route, the per-part
    executor route and the SQL surface (same spec in → bit-identical hits
    out).

    ``spec = (term_groups, should_terms, must_not, phrases, not_phrases)``:
    ``term_groups`` = [(terms, boost)] required at-least-one-of groups (a
    plain MUST term is a singleton); ``should_terms`` = [(term, boost)]
    optional riders; ``must_not`` = prohibited terms, their ids decoded
    (ids-only) into the deleted set HERE, where the scorer runs, so the
    exclusion set never crosses the network; ``phrases`` = [(tokens,
    required, boost, slop)] phrase units (required → their own group,
    optional → riders); ``not_phrases`` = [(tokens, slop)] prohibited
    phrases, their match ids excluded likewise. ``idfs`` are the unboosted
    idfs of the scored terms; a unit's weight is idf·boost. A required
    clause with no member present here returns ∅ — globally that is
    Lucene's MatchNoDocs, per part an empty local top-k. ``mm`` is
    Lucene's minimumNumberShouldMatch over the riders; ``after`` pages as
    in :func:`_vec_topk`."""
    term_groups, should_terms, must_not, phrases, not_phrases = spec
    deleted = _merge_deleted(deleted, _excluded_ids(
        [r for t in must_not for r in by_term.get(t, [])]))
    for toks, slop in not_phrases:
        unit = _phrase_unit(toks, by_term, slop, 0.0)
        if unit is not None:
            deleted = _merge_deleted(deleted, unit[1])

    def term_unit(t, b):
        return (idfs[t] * b, *_decode_term_arrays(by_term[t]))

    live = set(by_term) & set(idfs)
    groups = []
    for g, b in term_groups:
        members = [term_unit(t, b) for t in sorted(g) if t in live]
        if not members:
            return []
        groups.append(members)
    riders = [(t, term_unit(t, b)) for t, b in should_terms if t in live]
    for toks, required, b, slop in phrases:
        unit = (_phrase_unit(toks, by_term, slop,
                             b * sum(idfs[t] for t in toks))
                if all(t in idfs for t in toks) else None)
        if unit is None:
            if required:
                return []
        elif required:
            groups.append([unit])
        else:
            riders.append(('"' + " ".join(toks) + '"', unit))
    riders.sort(key=lambda r: r[0])
    return _vec_topk(groups, [u for _, u in riders], k, avgdl,
                     deleted=deleted, allowed=allowed, after=after,
                     min_should_match=mm)


def _local_synonyms(
    by_term: dict[str, list], deleted: np.ndarray | None,
    allowed: np.ndarray | None, *, groups: list[tuple[str, list[str], float]],
    k: int, avgdl: float,
) -> list[tuple[int, float]]:
    """Exact local top-k of a synonym query: ``groups`` = [(name, member
    terms, idf)], each ONE optional unit (:func:`_syn_unit`) scored in
    ascending-name order; a group with no member present here contributes
    nothing."""
    units = []
    for _, members, idf in sorted(groups, key=lambda g: g[0]):
        live = [m for m in members if m in by_term]
        if live:
            units.append(_syn_unit(
                idf, [_decode_term_arrays(by_term[m]) for m in live]))
    return _vec_topk([], units, k, avgdl, deleted=deleted, allowed=allowed)


def _terms_spec(terms: list[str], mode: str) -> tuple:
    """A plain term query as a clause spec: ``or`` = every term an
    optional rider, ``and`` = every term its own required group (strict
    Lucene +required: a term absent from the index matches nothing)."""
    if mode == "and":
        return ([([t], 1.0) for t in terms], [], [], [], [])
    if mode != "or":
        raise ValueError(f"unknown mode: {mode!r}")
    return ([], [(t, 1.0) for t in terms], [], [], [])


def _mixed_spec(p, expansions):
    """ParsedQuery + its expanded multi-term clauses → the clause spec
    ``(term_groups, should_terms, must_not, phrases, not_phrases)`` of a
    query with phrase clauses, shared by ``IndexReader.search_lucene`` and
    the SQL surface (same spec in → bit-identical hits out of
    :func:`_local_clauses`). Plain MUST terms become sorted singleton
    groups (dedup first-boost-wins); MUST expansions keep parse order after
    them; SHOULD terms/expansions dedup first-boost-wins and drop terms
    already gating a group (the same rule the non-phrase grouped path
    applies); prohibited phrases pass through as (tokens, slop)
    exclusions. Returns ``None`` when an empty MUST expansion makes the
    whole query MatchNoDocs."""
    must_not = list(p.must_not)
    should: list[tuple[str, float]] = list(p.should)
    exp_groups: list[tuple[list[str], float]] = []
    for exp, occ, b in expansions:
        if occ == "-":
            must_not.extend(exp)
        elif occ == "+":
            if not exp:
                return None
            exp_groups.append((sorted(set(exp)), b))
        else:
            should.extend((t, b) for t in exp)
    must_dedup: dict[str, float] = {}
    for t, b in p.must:
        must_dedup.setdefault(t, b)
    term_groups = ([([t], b) for t, b in sorted(must_dedup.items())]
                   + exp_groups)
    gterms = {t for g, _ in term_groups for t in g}
    sd: dict[str, float] = {}
    for t, b in should:
        if t not in gterms:
            sd.setdefault(t, b)
    phrases = [(list(toks), required, b, slop)
               for toks, required, b, slop in p.phrases]
    not_phrases = [(list(toks), slop) for toks, slop in p.not_phrases]
    return (term_groups, sorted(sd.items()), sorted(set(must_not)),
            phrases, not_phrases)


def _excluded_ids(recs: list) -> np.ndarray:
    """Sorted unique doc ids from a list of block records (Row or dict) —
    the MUST_NOT exclusion set, decoded ids-only (no tf/dl)."""
    if not recs:
        return np.empty(0, dtype=np.int64)
    parts = [delta_decode(varbyte_decode(bytes(r["ids_bin"]))) for r in recs]
    return np.unique(np.concatenate(parts))


def _merge_deleted(a: np.ndarray | None, b: np.ndarray) -> np.ndarray | None:
    if not len(b):
        return a
    if a is None or not len(a):
        return b
    return np.union1d(a, b)
