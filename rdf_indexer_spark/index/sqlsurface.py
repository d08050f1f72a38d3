"""SQL surface for the index: ``SELECT * FROM bm25_search('query', k)``.

The reference's users query Solr over HTTP (SolrClient.java:125-201); this
engine's downstream users get a SQL table-valued entry instead, so BM25
top-k composes with plain Spark SQL (joins against the docstore, filters,
CTEs) without touching the Python API.

Shape: a Python UDTF (Spark 4 table function). The UDTF executes on a
worker, where no SparkSession exists — so it does NOT route through the
driver-side ``IndexReader``. Instead it reads the query's posting blocks
straight from the index parquet with pyarrow (``term``-filtered, so parquet
row-group statistics prune the scan exactly like the DataFrame path) and
scores them with the same columnar core the driver and executor routes run
(``bm25._local_clauses`` over ``bm25._vec_topk``) — rank- and
score-identical by construction (shared code, shared tokenizer, shared idf
formula; asserted in tests/test_index.py).

At cluster scale this is the "serving" shape: the search runs as ONE task
wherever Spark schedules it, nothing is collected to the driver, and the
block fetch is bounded by the query's terms. (For hot multi-TB terms the
per-part executor route of bm25.search_wand_distributed remains the
right path; the UDTF is the SQL-facing point-query surface.)

Usage::

    register_sql_surface(spark, index_dir)
    spark.sql("SELECT doc_id, score, rank FROM bm25_search('hello world', 10)")
"""

from __future__ import annotations

import math
import os

import numpy as np


def _load_reader_state(index_dir: str) -> dict:
    """Worker-side index metadata load (pyarrow, no SparkSession)."""
    import pyarrow.parquet as pq

    stats = pq.read_table(os.path.join(index_dir, "stats")).to_pylist()[0]
    tomb_path = os.path.join(index_dir, "tombstones")
    if os.path.exists(tomb_path):
        tomb = np.sort(
            pq.read_table(tomb_path, columns=["doc_id"])["doc_id"]
            .to_numpy(zero_copy_only=False).astype(np.int64)
        )
    else:
        tomb = np.array([], dtype=np.int64)
    return {
        "n_docs": int(stats["n_docs"]),
        "avgdl": float(stats["avgdl"]),
        "tombstones": tomb,
    }


def _allowed_local(index_dir: str, where: str | None) -> np.ndarray | None:
    """Worker-side fq evaluation: SQL predicate over the docstore → sorted
    visible doc_id set (the ``where`` surface of the SQL point-query path).

    No SparkSession exists on the worker, so the predicate is evaluated by
    DuckDB over the hive-partitioned docstore parquet — projection is just
    ``doc_id`` and the predicate pushes into the parquet scan (row-group
    zonemaps), so the cost is a pruned columnar scan, not a docstore read.
    Simple fq shapes (equality / ranges / IN / arithmetic / AND-OR) mean
    the same thing in DuckDB and Spark SQL; this mirrors how Solr evaluates
    fq inside the index rather than in the client (SolrClient.java:144-163).
    For unselective predicates over a multi-TB docstore the cogrouped
    executor route (bm25.search_wand_distributed) remains the right path —
    this is the single-task serving surface."""
    if where is None:
        return None
    import duckdb

    glob = os.path.join(index_dir, "docstore", "*", "*.parquet")
    con = duckdb.connect()
    try:
        ids = con.execute(
            f"SELECT doc_id FROM read_parquet('{glob}', hive_partitioning=1) "
            f"WHERE {where}"
        ).fetchnumpy()["doc_id"]
    finally:
        con.close()
    return np.sort(np.asarray(ids, dtype=np.int64))


def _expand_local(index_dir: str, p) -> list[tuple[list[str], str, float]]:
    """Worker-side wildcard/fuzzy expansion against the term dictionary —
    the SQL-surface twin of ``IndexReader.expand_wildcard`` /
    ``expand_fuzzy``: no SparkSession on the worker, so the termstats scan
    runs in DuckDB over the dictionary parquet with the SAME anchored
    regex / classic-levenshtein predicates and the SAME deterministic
    (rank, df desc, term asc) caps, so the SQL surface stays rank- and
    score-identical to the driver path (asserted in tests). Returns one
    ``(expanded_terms, occur, boost)`` entry per multi-term clause."""
    if not p.wildcards and not p.fuzzies:
        return []
    import duckdb

    from .bm25 import IndexReader
    from .qparse import wildcard_regex

    glob = os.path.join(index_dir, "termstats", "*.parquet")
    con = duckdb.connect()
    out: list[tuple[list[str], str, float]] = []
    try:
        for pat, occ, b in p.wildcards:
            rows = con.execute(
                "SELECT term FROM read_parquet(?) "
                "WHERE regexp_matches(term, ?) "
                "ORDER BY df DESC, term ASC LIMIT ?",
                [glob, wildcard_regex(pat), IndexReader.MAX_WILDCARD_EXPANSIONS],
            ).fetchall()
            out.append(([r[0] for r in rows], occ, b))
        for t, e, occ, b in p.fuzzies:
            rows = con.execute(
                "SELECT term FROM read_parquet(?) "
                "WHERE abs(length(term) - ?) <= ? "
                "AND levenshtein(term, ?) <= ? "
                "ORDER BY levenshtein(term, ?) ASC, df DESC, term ASC "
                "LIMIT ?",
                [glob, len(t), e, t, e, t,
                 IndexReader.MAX_FUZZY_EXPANSIONS],
            ).fetchall()
            out.append(([r[0] for r in rows], occ, b))
    finally:
        con.close()
    return out


def _clauses_local(index_dir: str, spec, k: int, where: str | None = None,
                   mm: int = 0, after: tuple[int, float] | None = None,
                   ) -> list[tuple[int, float]]:
    """Worker-side run of one clause tree: pyarrow-fetched blocks (WITH
    positions when the spec has phrase clauses) into the shared
    ``bm25._local_clauses`` — the SQL-surface twin of the driver route of
    ``IndexReader.search_wand`` / ``search_boolean`` /
    ``search_grouped_boolean`` / ``search_phrase`` / ``search_lucene``
    (same spec and idfs in → bit-identical hits out)."""
    import pyarrow.parquet as pq

    from .bm25 import _by_term, _local_clauses

    term_groups, should_terms, must_not, phrases, not_phrases = spec
    phrase_terms = {t for toks, *_ in phrases for t in toks}
    np_terms = {t for toks, _ in not_phrases for t in toks}
    scored = ({t for g, _ in term_groups for t in g}
              | {t for t, _ in should_terms} | phrase_terms)
    if not scored:
        return []
    state = _load_reader_state(index_dir)
    ts = pq.read_table(
        os.path.join(index_dir, "termstats"),
        filters=[("term", "in", sorted(scored | set(must_not) | np_terms))],
    ).to_pylist()
    indexed = {r["term"] for r in ts}
    # global MatchNoDocs: a required clause with an unindexed member
    for g, _ in term_groups:
        if not any(t in indexed for t in g):
            return []
    for toks, required, _, _ in phrases:
        if required and any(t not in indexed for t in toks):
            return []
    idfs = {
        r["term"]: math.log(
            1.0 + (state["n_docs"] - r["df"] + 0.5) / (r["df"] + 0.5))
        for r in ts if r["term"] in scored
    }
    if not idfs:
        return []
    positional = bool(phrase_terms or np_terms)
    by_term = _by_term(pq.read_table(
        os.path.join(index_dir, "blocks"),
        columns=["term", "first_doc_id", "ids_bin", "tfs_bin", "dls_bin",
                 *(["pos_bin"] if positional else [])],
        filters=[("term", "in",
                  sorted(set(idfs) | set(must_not) | (np_terms & indexed)))],
    ).to_pylist())
    if any(r["pos_bin"] is None
           for t in (phrase_terms | np_terms) for r in by_term.get(t, [])):
        raise ValueError(
            "not a positional index: rebuild with "
            "build_index(positions=True) for phrase queries")
    return _local_clauses(by_term, state["tombstones"],
                          _allowed_local(index_dir, where), spec=spec,
                          idfs=idfs, k=k, avgdl=state["avgdl"], mm=mm,
                          after=after)


def _lucene_local(index_dir: str, query: str, k: int,
                  where: str | None = None,
                  mm: int = 0) -> list[tuple[int, float]]:
    """Worker-side Lucene classic-syntax search: parse the ``q`` string
    (qparse) into the clause spec ``IndexReader.search_lucene`` builds —
    MUST/SHOULD/MUST_NOT/boost terms as in ``search_boolean``,
    wildcard/fuzzy clauses expanded via :func:`_expand_local` (MUST
    expansions as at-least-one-of groups), phrase clauses mixed with other
    clauses (or boosted, or several) through the shared ``_mixed_spec``;
    lone unboosted phrase clauses route to phrase mode (slop honored) —
    and run it through :func:`_clauses_local`, so hits match the driver
    route bit-for-bit."""
    from .bm25 import _mixed_spec
    from .qparse import parse_query

    p = parse_query(query)
    if mm and (p.phrases or p.not_phrases or p.wildcards or p.fuzzies):
        raise ValueError(
            "mm (minimum should match) is supported for plain term "
            "clauses only — expanded/phrase clause counting differs "
            "from the flattened rewrite")
    if (len(p.phrases) == 1 and p.phrases[0][2] == 1.0
            and not (p.must or p.should or p.must_not or p.wildcards
                     or p.fuzzies or p.not_phrases)):
        toks, _required, _boost, slop = p.phrases[0]
        return _search_local(index_dir, " ".join(toks), k, "phrase", where,
                             slop=slop)
    if p.phrases or p.not_phrases:
        spec = _mixed_spec(p, _expand_local(index_dir, p))
        if spec is None:
            return []  # empty rewritten MUST clause: MatchNoDocs
        return _clauses_local(index_dir, spec, k, where)
    boosts: dict[str, float] = {}
    for t, b in [*p.must, *p.should]:
        boosts.setdefault(t, b)
    should_set = {t for t, _ in p.should}
    mn_set = set(p.must_not)
    groups: list[tuple[list[str], float]] = []
    for exp, occ, b in _expand_local(index_dir, p):
        if occ == "-":
            mn_set.update(exp)
        elif occ == "+":
            if not exp:
                return []  # empty rewritten MUST clause: MatchNoDocs
            groups.append((sorted(set(exp)), b))
        else:
            should_set.update(exp)
            if b != 1.0:
                for t in exp:
                    boosts.setdefault(t, b)
    # plain MUST terms ride as singleton groups ahead of the expansions;
    # a term's weight is idf · its first boost
    must_t = sorted({t for t, _ in p.must})
    group_terms = {t for g, _ in groups for t in g}
    should_t = sorted(should_set - set(must_t) - group_terms)
    spec = ([([t], boosts.get(t, 1.0)) for t in must_t] + groups,
            [(t, boosts.get(t, 1.0)) for t in should_t], sorted(mn_set),
            [], [])
    return _clauses_local(index_dir, spec, k, where, mm=mm)


def _search_local(index_dir: str, query: str, k: int,
                  mode: str = "or",
                  where: str | None = None,
                  slop: int = 0, mm: int = 0,
                  after: tuple[int, float] | None = None,
                  ) -> list[tuple[int, float]]:
    """One search against the on-disk index, no Spark involved: the query
    becomes the clause spec the driver route builds (``or``/``and`` as in
    ``IndexReader.search_wand``, ``phrase`` as in ``search_phrase``,
    ``lucene`` as in ``search_lucene``) and runs through the shared
    columnar core over pyarrow-fetched blocks. ``mode="and"`` = strict
    Lucene +required (every query term required; a term absent from the
    index matches nothing). ``where`` is the fq visibility filter (Solr
    q+fq: non-scoring), evaluated on the worker against the docstore — see
    :func:`_allowed_local`."""
    from ..analyzer import tokenize
    from .bm25 import _terms_spec

    if after is not None and mode not in ("or", "and"):
        raise ValueError("cursor paging (after) supports mode='or'/'and' "
                         "only")
    if mode == "lucene":
        return _lucene_local(index_dir, query, k, where, mm=mm)
    if mode not in ("or", "and", "phrase"):
        raise ValueError(f"unknown mode: {mode!r}")
    if mm and mode != "or":
        raise ValueError("mm applies to mode='or' or plain 'lucene' "
                         "queries only")
    toks = tokenize(query)  # order + duplicates kept (phrase mode)
    if not toks:
        return []
    # Lucene PhraseQuery in SQL: every phrase term required; score =
    # (Σ idf with multiplicity) · pf/(pf + K(dl))
    spec = (([], [], [], [(toks, True, 1.0, slop)], []) if mode == "phrase"
            else _terms_spec(sorted(set(toks)), mode))
    return _clauses_local(index_dir, spec, k, where, mm=mm, after=after)


def _facets_local(index_dir: str, query: str, fields: list[str],
                  top: int, mode: str,
                  where: str | None) -> list[tuple[str, str | None, int]]:
    """Worker-side facet.field counts — the SQL-surface twin of
    ``IndexReader.facet_counts``: ids-only block decode for the match set
    (pyarrow term-filtered read), docstore metadata columns masked by
    match ∩ visible − tombstones, per-field (n desc, value asc) top-N.
    Like the search UDTF this is the single-task serving surface; the
    cogrouped DataFrame kernel stays the multi-TB path."""
    import pandas as pd
    import pyarrow.parquet as pq

    from ..analyzer import tokenize
    from .codec import delta_decode, varbyte_decode

    if mode not in ("or", "and"):
        raise ValueError(f"unknown mode: {mode!r}")
    state = _load_reader_state(index_dir)
    terms = sorted(set(tokenize(query))) if query not in ("", "*:*") else []
    matched: np.ndarray | None = None
    if terms:
        blocks_tbl = pq.read_table(
            os.path.join(index_dir, "blocks"),
            columns=["term", "ids_bin"],
            filters=[("term", "in", terms)],
        )
        per_term: dict[str, list] = {}
        for rec in blocks_tbl.to_pylist():
            ids = delta_decode(varbyte_decode(bytes(rec["ids_bin"])))
            per_term.setdefault(rec["term"], []).append(ids)
        if mode == "and" and len(per_term) < len(terms):
            return []
        sets = [np.unique(np.concatenate(v)) for v in per_term.values()]
        if not sets:
            return []
        matched = sets[0]
        for st in sets[1:]:
            matched = (np.intersect1d(matched, st, assume_unique=True)
                       if mode == "and"
                       else np.union1d(matched, st))
    doc_tbl = pq.read_table(
        os.path.join(index_dir, "docstore"),
        columns=["doc_id", *fields],
    ).to_pandas()
    mask = np.ones(len(doc_tbl), dtype=bool)
    if matched is not None:
        mask &= np.isin(doc_tbl["doc_id"].values.astype(np.int64), matched)
    if len(state["tombstones"]):
        mask &= ~np.isin(doc_tbl["doc_id"].values.astype(np.int64),
                         state["tombstones"])
    allowed = _allowed_local(index_dir, where)
    if allowed is not None:
        mask &= np.isin(doc_tbl["doc_id"].values.astype(np.int64), allowed)
    sub = doc_tbl[mask]
    out: list[tuple[str, str | None, int]] = []
    for f_name in fields:
        vc = sub[f_name].astype("object").value_counts(dropna=False)
        rows = sorted(
            ((None if pd.isna(v) else str(v), int(n))
             for v, n in vc.items()),
            key=lambda x: (-x[1], x[0] if x[0] is not None else "\uffff"),
        )[:top]
        out.extend((f_name, v, n) for v, n in rows)
    return out


def register_sql_surface(spark, index_dir: str, name: str = "bm25_search"):
    """Register ``name(query, k[, mode[, where]])`` as a SQL table function
    for ``index_dir`` — mode 'or' (default), 'and' (strict +required, the
    Solr ``+term`` surface in SQL), 'phrase' (exact consecutive
    sequence over a positional index — the Lucene ``"quoted phrase"``
    surface; requires ``build_index(positions=True)``), or 'lucene'
    (the full classic query string: ``+must -not term^boost``, quoted
    phrases, wildcards and fuzzy terms, parsed by qparse —
    ``IndexReader.search_lucene`` in SQL); ``where`` is an
    optional fq visibility predicate over the docstore (the Solr q+fq
    composition — relevance plus a non-scoring filter), evaluated
    index-side on the worker exactly like ``IndexReader.search(where=...)``;
    ``mm`` is Lucene's minimumNumberShouldMatch (Solr dismax ``mm``) for
    'or' and plain-clause 'lucene' queries, as in
    ``IndexReader.search_boolean(min_should_match=...)``; ``after_doc`` +
    ``after_score`` are the previous page's last row (Solr cursorMark in
    SQL — stateless deep paging, modes 'or'/'and', see
    ``IndexReader.search(after=...)``).

    Returns the registered UDTF handle. The index path is bound at
    registration time (SQL callers pass only query/k/mode/where/mm)."""
    from pyspark.sql.functions import udtf

    class BM25Search:
        def eval(self, query: str, k: int, mode: str = "or",
                 where: str = None, mm: int = 0,
                 after_doc: int = None, after_score: float = None):
            after = None
            if after_doc is not None or after_score is not None:
                if after_doc is None or after_score is None:
                    raise ValueError(
                        "cursor paging needs BOTH after_doc and "
                        "after_score (the previous page's last row)")
                after = (int(after_doc), float(after_score))
            for rank, (doc, score) in enumerate(
                _search_local(index_dir, query, int(k), mode, where,
                              mm=int(mm or 0), after=after)
            ):
                yield int(doc), float(score), rank + 1

    fn = udtf(BM25Search, returnType="doc_id long, score double, rank int")
    spark.udtf.register(name, fn)

    class BM25Facets:
        def eval(self, query: str, fields: str, top: int = 10,
                 mode: str = "or", where: str = None):
            flist = [f.strip() for f in fields.split(",") if f.strip()]
            if not flist:
                raise ValueError("bm25_facets needs a comma-separated "
                                 "field list")
            for row in _facets_local(index_dir, query, flist, int(top),
                                     mode, where):
                yield row

    facets_fn = udtf(
        BM25Facets,
        returnType="facet_field string, facet_value string, n long")
    spark.udtf.register(f"{name}_facets", facets_fn)
    return fn
