"""Driver contract for the spark-graft builder (PySpark target).

``queries()`` exposes one entry per implemented operator family from
SURVEY.md §2 (implementations in ``rdf_indexer_spark/queries.py``);
``oracle_sql()`` restates each one in ANSI SQL for the DuckDB side-by-side
check. Since r2 EVERY entry has an oracle: LSH/sketch operators use
cross-engine md5-60 hashing (and md5→Box-Muller hyperplanes) so their full
semantics restate in SQL; the RDF parse layer is checked against literal
goldens traced to the reference's own fixtures and source.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

TOKEN_RE2 = r"[\p{L}\p{N}_]+"

# DuckDB restatement of the cross-engine 60-bit hash (textops.h60_col):
# integer value of the first 15 hex chars of md5(x), via a positional
# hex-digit sum (DuckDB's md5_number_* are little-endian, so no shortcut).
HEXINT_DOC = "first 15 hex chars of md5 as int"


def _hexint(expr: str) -> str:
    return (
        "list_sum([ (strpos('0123456789abcdef', md5(" + expr + ")[i]) - 1)::BIGINT"
        " << (4*(15-i)) for i in range(1, 16) ])"
    )


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: exact BM25 relevance scoring over the documents table at
    sf0.001 (the full-text query path the whole index exists for, Q-9)."""
    from rdf_indexer_spark.queries import q_bm25_scores

    return q_bm25_scores(spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    from rdf_indexer_spark import queries as Q


    return {
        # relational surface (reference Q-2..Q-8, J-*, G-*, D-5)
        "archive_filter": Q.q_archive_filter,
        "fq_and_or": Q.q_fq_and_or,
        "point_lookup": Q.q_point_lookup,
        "pagination": Q.q_pagination,
        "projection": Q.q_projection,
        "delete_by_query": Q.q_delete_by_query,
        "agg_summary": Q.q_agg_summary,
        "error_summary": Q.q_error_summary,
        "derived_dates": Q.q_derived_dates,
        "first_last": Q.q_first_last,
        "window_running": Q.q_window_running,
        "full_outer_compare": Q.q_full_outer_compare,
        "except_all": Q.q_except_all,
        "resolve_join": Q.q_resolve_join,
        "multi_join_topk": Q.q_multi_join_topk,
        "events_tumbling": Q.q_events_tumbling,
        "text_size_windows": Q.q_text_size_windows,
        # fulltext index surface (T-11, postings, stats, Q-9)
        "token_count": Q.q_token_count,
        "postings": Q.q_postings,
        "term_df": Q.q_term_df,
        "corpus_stats": Q.q_corpus_stats,
        "bm25_scores": Q.q_bm25_scores,
        "bm25_topk_wand": Q.q_bm25_topk_wand,
        "bm25_topk_wand_dist": Q.q_bm25_topk_wand_dist,
        "bm25_sql_surface": Q.q_bm25_sql_surface,
        "bm25_sql_fq": Q.q_bm25_sql_fq,
        "bm25_topk_and": Q.q_bm25_topk_and,
        "bm25_topk_phrase": Q.q_bm25_topk_phrase,
        "bm25_after_update": Q.q_bm25_after_update,
        "bm25_topk_filtered": Q.q_bm25_topk_filtered,
        "bm25_batch": Q.q_bm25_batch,
        # training-data pipeline operators
        "exact_dedup": Q.q_exact_dedup,
        "quality": Q.q_quality,
        "ann_cosine": Q.q_ann_cosine,
        # LSH / sketch / parse-layer ops (oracle-checked since r2)
        "minhash_neardup": Q.q_minhash_neardup,
        "simhash_neardup": Q.q_simhash_neardup,
        "embed_neardup": Q.q_embed_neardup,
        "langid": Q.q_langid,
        "fingerprints": Q.q_fingerprints,
        "ann_lsh": Q.q_ann_lsh,
        "rdf_documents": Q.q_rdf_documents,
        "rdf_errors": Q.q_rdf_errors,
        # stateful-op batch twin + batched ANN (new in r2)
        "sessionize": Q.q_sessionize,
        "ann_batch": Q.q_ann_batch,
        # Solr serving surface extensions (r5): facets + MoreLikeThis
        "bm25_facets": Q.q_bm25_facets,
        "facet_browse": Q.q_facet_browse,
        "bm25_mlt": Q.q_bm25_mlt,
        "spell_suggest": Q.q_spell_suggest,
        "bm25_highlight": Q.q_bm25_highlight,
        "bm25_boolean": Q.q_bm25_boolean,
        "bm25_sort_field": Q.q_bm25_sort_field,
        "bm25_grouped": Q.q_bm25_grouped,
        "facet_range": Q.q_facet_range,
        "field_stats": Q.q_field_stats,
        # Lucene multi-term + sloppy-phrase clauses (r5): dictionary
        # expansion (wildcard/fuzzy) and ordered near-match phrases
        "bm25_wildcard": Q.q_bm25_wildcard,
        "bm25_fuzzy": Q.q_bm25_fuzzy,
        "bm25_phrase_slop": Q.q_bm25_phrase_slop,
        "bm25_lucene_mixed": Q.q_bm25_lucene_mixed,
        "bm25_min_should": Q.q_bm25_min_should,
        # deep paging, dictionary browse, pivot facets, rerank boost (r5)
        "bm25_cursor_page2": Q.q_bm25_cursor_page2,
        "terms_component": Q.q_terms_component,
        "facet_pivot": Q.q_facet_pivot,
        "bm25_rerank": Q.q_bm25_rerank,
        "bm25_collated": Q.q_bm25_collated,
        "facet_queries": Q.q_facet_queries,
        # training-pipeline curation operators (r5)
        "decontaminate": Q.q_decontaminate,
        "pii_scan": Q.q_pii_scan,
        "repetition": Q.q_repetition,
        "bm25_synonyms": Q.q_bm25_synonyms,
        "bm25_sql_facets": Q.q_bm25_sql_facets,
    }


def oracle_sql() -> dict[str, str]:
    from rdf_indexer_spark import queries as Q

    tok = f"regexp_extract_all(lower(text), '{TOKEN_RE2}')"
    bm25_terms = "('window'), ('shuffle'), ('join')"
    post_terms = "('data'), ('spark'), ('query')"
    # shared by bm25_topk_wand (driver route) and bm25_topk_wand_dist
    # (executor-side applyInPandas route): both must equal the from-scratch
    # SQL BM25. dl comes from the documents table directly (not the token
    # unnest, which drops zero-token docs) so N/avgdl count ALL docs like the
    # Spark plan and the on-disk index stats do.
    bm25_topk_sql = f"""
        WITH q(term) AS (VALUES {bm25_terms}),
        tokd AS (SELECT doc_id, unnest({tok}) AS term FROM documents),
        dl AS (SELECT doc_id, len({tok})::DOUBLE AS dl FROM documents),
        tf AS (
          SELECT doc_id, term, count(*)::DOUBLE AS tf FROM tokd
          WHERE term IN (SELECT term FROM q) GROUP BY doc_id, term
        ),
        stats AS (SELECT count(*)::DOUBLE AS n, avg(dl) AS avgdl FROM dl),
        df AS (
          SELECT term, count(DISTINCT doc_id)::DOUBLE AS df FROM tokd
          WHERE term IN (SELECT term FROM q) GROUP BY term
        ),
        scores AS (
          SELECT tf.doc_id,
                 sum(
                   ln(1 + (n - df + 0.5) / (df + 0.5)) *
                   tf / (tf + 1.2 * (1 - 0.75 + 0.75 * dl.dl / avgdl))
                 ) AS score
          FROM tf
          JOIN df USING (term)
          JOIN dl ON tf.doc_id = dl.doc_id
          CROSS JOIN stats
          GROUP BY tf.doc_id
        )
        SELECT doc_id, round(score, 4) AS score FROM scores
        ORDER BY score DESC, doc_id ASC LIMIT 10
    """
    # conjunctive variant: doc must match EVERY query term that exists in
    # the corpus (HAVING matched = |df|), same per-term scoring
    def _bm25_one(qid: str, terms_values: str) -> str:
        # one query's from-scratch BM25 top-10 tagged with its query_id —
        # the per-query oracle for the batch (search_many) surface
        return f"""
        SELECT '{qid}' AS query_id, doc_id, score FROM (
          WITH q(term) AS (VALUES {terms_values}),
          tokd AS (SELECT doc_id, unnest({tok}) AS term FROM documents),
          dl AS (SELECT doc_id, len({tok})::DOUBLE AS dl FROM documents),
          tf AS (
            SELECT doc_id, term, count(*)::DOUBLE AS tf FROM tokd
            WHERE term IN (SELECT term FROM q) GROUP BY doc_id, term
          ),
          stats AS (SELECT count(*)::DOUBLE AS n, avg(dl) AS avgdl FROM dl),
          df AS (
            SELECT term, count(DISTINCT doc_id)::DOUBLE AS df FROM tokd
            WHERE term IN (SELECT term FROM q) GROUP BY term
          ),
          scores AS (
            SELECT tf.doc_id,
                   sum(
                     ln(1 + (n - df + 0.5) / (df + 0.5)) *
                     tf / (tf + 1.2 * (1 - 0.75 + 0.75 * dl.dl / avgdl))
                   ) AS score
            FROM tf
            JOIN df USING (term)
            JOIN dl ON tf.doc_id = dl.doc_id
            CROSS JOIN stats
            GROUP BY tf.doc_id
          )
          SELECT doc_id, round(score, 4) AS score FROM scores
          ORDER BY score DESC, doc_id ASC LIMIT 10
        )"""

    bm25_batch_sql = (
        _bm25_one("q1", bm25_terms) + " UNION ALL " + _bm25_one("q2", post_terms)
    )

    # facet counts over the FULL OR-match set (bm25_facets): a doc matches
    # iff it contains ANY query term; counts melt (lang, source) and keep
    # the top-5 values per field by (count desc, value asc) — exactly
    # IndexReader.facet_counts' window rank.
    facets_sql = f"""
        WITH q(term) AS (VALUES {bm25_terms}),
        matched AS (
          SELECT DISTINCT doc_id
          FROM (SELECT doc_id, unnest({tok}) AS term FROM documents)
          WHERE term IN (SELECT term FROM q)
        ),
        melt AS (
          SELECT 'lang' AS facet_field, lang AS facet_value
          FROM documents JOIN matched USING (doc_id)
          UNION ALL
          SELECT 'source' AS facet_field, source AS facet_value
          FROM documents JOIN matched USING (doc_id)
        )
        SELECT facet_field, facet_value, count(*)::BIGINT AS n
        FROM melt GROUP BY facet_field, facet_value
        QUALIFY row_number() OVER (
          PARTITION BY facet_field ORDER BY n DESC, facet_value ASC) <= 5
    """
    # match-all browse facets under an fq predicate (facet_browse)
    facet_browse_sql = """
        WITH melt AS (
          SELECT 'lang' AS facet_field, lang AS facet_value
          FROM documents WHERE doc_id % 3 = 0
          UNION ALL
          SELECT 'source' AS facet_field, source AS facet_value
          FROM documents WHERE doc_id % 3 = 0
        )
        SELECT facet_field, facet_value, count(*)::BIGINT AS n
        FROM melt GROUP BY facet_field, facet_value
        QUALIFY row_number() OVER (
          PARTITION BY facet_field ORDER BY n DESC, facet_value ASC) <= 3
    """
    # MoreLikeThis (bm25_mlt): restate BOTH stages — (1) seed doc 42's
    # top-10 "interesting" terms by tf(seed)·idf, ties term-asc (Lucene
    # MLT's default term scorer), (2) the OR-mode BM25 over those terms
    # with the seed excluded. The term-selection is part of the oracle, so
    # a drift in tf/idf math or tie-breaking fails the gate.
    mlt_sql = f"""
        WITH seed AS (
          SELECT unnest({tok}) AS term FROM documents WHERE doc_id = 42
        ),
        tf_seed AS (SELECT term, count(*)::DOUBLE AS tf
                    FROM seed GROUP BY term),
        dl AS (SELECT doc_id, len({tok})::DOUBLE AS dl FROM documents),
        stats AS (SELECT count(*)::DOUBLE AS n, avg(dl) AS avgdl FROM dl),
        tokd AS (SELECT doc_id, unnest({tok}) AS term FROM documents),
        df AS (
          SELECT term, count(DISTINCT doc_id)::DOUBLE AS df FROM tokd
          WHERE term IN (SELECT term FROM tf_seed) GROUP BY term
        ),
        interesting AS (
          SELECT term
          FROM tf_seed JOIN df USING (term) CROSS JOIN stats
          ORDER BY tf * ln(1 + (n - df + 0.5) / (df + 0.5)) DESC, term ASC
          LIMIT 10
        ),
        tf AS (
          SELECT doc_id, term, count(*)::DOUBLE AS tf FROM tokd
          WHERE term IN (SELECT term FROM interesting) GROUP BY doc_id, term
        ),
        scores AS (
          SELECT tf.doc_id,
                 sum(
                   ln(1 + (n - df + 0.5) / (df + 0.5)) *
                   tf / (tf + 1.2 * (1 - 0.75 + 0.75 * dl.dl / avgdl))
                 ) AS score
          FROM tf
          JOIN df USING (term)
          JOIN dl ON tf.doc_id = dl.doc_id
          CROSS JOIN stats
          GROUP BY tf.doc_id
        )
        SELECT doc_id, round(score, 4) AS score FROM scores
        WHERE doc_id != 42
        ORDER BY score DESC, doc_id ASC LIMIT 10
    """

    # exact-phrase oracle (bm25_topk_phrase, phrase "table hash"): a doc
    # matches iff the consecutive token sequence occurs; pf = number of
    # phrase start positions; score = (Σ idf of the phrase's tokens, WITH
    # multiplicity) * pf / (pf + k1*(1 - b + b*dl/avgdl)) — Lucene
    # PhraseQuery semantics, the same shape the index-side position-list
    # leapfrog computes. Positions come from generate_subscripts aligned
    # with unnest (1-based is fine: only pos adjacency matters).
    bm25_phrase_sql = f"""
        WITH tokp AS (
          SELECT doc_id, unnest({tok}) AS term,
                 generate_subscripts({tok}, 1) AS pos
          FROM documents
        ),
        dl AS (SELECT doc_id, len({tok})::DOUBLE AS dl FROM documents),
        stats AS (SELECT count(*)::DOUBLE AS n, avg(dl) AS avgdl FROM dl),
        df AS (
          SELECT term, count(DISTINCT doc_id)::DOUBLE AS df FROM tokp
          WHERE term IN ('table', 'hash') GROUP BY term
        ),
        idf AS (
          SELECT sum(ln(1 + (n - df + 0.5) / (df + 0.5))) AS idf_sum,
                 count(*) AS terms_present
          FROM df CROSS JOIN stats
        ),
        starts AS (
          SELECT a.doc_id
          FROM tokp a
          JOIN tokp b ON a.doc_id = b.doc_id AND b.pos = a.pos + 1
          WHERE a.term = 'table' AND b.term = 'hash'
        ),
        pf AS (SELECT doc_id, count(*)::DOUBLE AS pf FROM starts GROUP BY doc_id),
        scores AS (
          SELECT pf.doc_id,
                 idf_sum * pf
                 / (pf + 1.2 * (1 - 0.75 + 0.75 * dl.dl / avgdl)) AS score
          FROM pf
          JOIN dl USING (doc_id)
          CROSS JOIN stats
          CROSS JOIN idf
          WHERE terms_present = 2
        )
        SELECT doc_id, round(score, 4) AS score FROM scores
        ORDER BY score DESC, doc_id ASC LIMIT 10
    """

    # bm25_after_update oracle: two-version corpus — every original doc
    # plus, for doc_id < 5, an UPDATED version (text + 2 marker tokens)
    # under a distinct version id. Statistics (n, avgdl, df) count BOTH
    # versions (the Lucene deleted-docs posture update_documents
    # documents: stats keep counting tombstoned versions until rebuild);
    # results exclude the dead old versions and report the stable
    # original id for updated docs.
    tokv = "regexp_extract_all(lower(text), '[\\p{L}\\p{N}_]+')"
    bm25_update_sql = f"""
        WITH corpus AS (
          SELECT doc_id AS vid, doc_id AS ref_id,
                 (doc_id >= 5) AS visible, text
          FROM documents
          UNION ALL
          SELECT doc_id + 1000000 AS vid, doc_id AS ref_id, TRUE AS visible,
                 text || ' updatedmarker refreshed' AS text
          FROM documents WHERE doc_id < 5
        ),
        q(term) AS (VALUES ('updatedmarker'), ('window'), ('join')),
        tokd AS (SELECT vid, unnest({tokv}) AS term FROM corpus),
        dl AS (
          SELECT vid, ref_id, visible, len({tokv})::DOUBLE AS dl FROM corpus
        ),
        tf AS (
          SELECT vid, term, count(*)::DOUBLE AS tf FROM tokd
          WHERE term IN (SELECT term FROM q) GROUP BY vid, term
        ),
        stats AS (SELECT count(*)::DOUBLE AS n, avg(dl) AS avgdl FROM dl),
        df AS (
          SELECT term, count(DISTINCT vid)::DOUBLE AS df FROM tokd
          WHERE term IN (SELECT term FROM q) GROUP BY term
        ),
        scores AS (
          SELECT tf.vid,
                 sum(
                   ln(1 + (n - df + 0.5) / (df + 0.5)) *
                   tf / (tf + 1.2 * (1 - 0.75 + 0.75 * dl.dl / avgdl))
                 ) AS score
          FROM tf
          JOIN df USING (term)
          JOIN dl ON tf.vid = dl.vid
          CROSS JOIN stats
          GROUP BY tf.vid
        )
        SELECT dl.ref_id AS doc_id, round(score, 4) AS score
        FROM scores JOIN dl ON scores.vid = dl.vid
        WHERE dl.visible
        ORDER BY score DESC, doc_id ASC LIMIT 10
    """

    # bm25_wildcard oracle ("+s* query"): restate BOTH stages — (1) the
    # dictionary expansion with the engine's anchored regex translation
    # (wildcard_regex("s*") == '^s.*$') and its deterministic
    # (df desc, term asc) top-128 cap, (2) the grouped BooleanQuery: a doc
    # matches iff ≥1 expanded term is present (the MUST group), and every
    # PRESENT scored term (expanded ∪ the SHOULD literal) contributes its
    # own idf·tf-saturation — Lucene's SCORING_BOOLEAN_REWRITE.
    bm25_wildcard_sql = f"""
        WITH tokd AS (SELECT doc_id, unnest({tok}) AS term FROM documents),
        dl AS (SELECT doc_id, len({tok})::DOUBLE AS dl FROM documents),
        stats AS (SELECT count(*)::DOUBLE AS n, avg(dl) AS avgdl FROM dl),
        dict AS (
          SELECT term, count(DISTINCT doc_id)::DOUBLE AS df
          FROM tokd GROUP BY term
        ),
        exp AS (
          SELECT term FROM (
            SELECT term, row_number() OVER (ORDER BY df DESC, term ASC) AS rn
            FROM dict WHERE regexp_matches(term, '^s.*$')
          ) WHERE rn <= 128
        ),
        scored(term) AS (SELECT term FROM exp UNION SELECT 'query'),
        tf AS (
          SELECT doc_id, term, count(*)::DOUBLE AS tf FROM tokd
          WHERE term IN (SELECT term FROM scored) GROUP BY doc_id, term
        ),
        gate AS (
          SELECT DISTINCT doc_id FROM tokd
          WHERE term IN (SELECT term FROM exp)
        ),
        scores AS (
          SELECT tf.doc_id,
                 sum(
                   ln(1 + (n - df + 0.5) / (df + 0.5)) *
                   tf / (tf + 1.2 * (1 - 0.75 + 0.75 * dl.dl / avgdl))
                 ) AS score
          FROM tf
          JOIN dict USING (term)
          JOIN dl ON tf.doc_id = dl.doc_id
          CROSS JOIN stats
          GROUP BY tf.doc_id
        )
        SELECT s.doc_id, round(score, 4) AS score
        FROM scores s JOIN gate USING (doc_id)
        ORDER BY score DESC, doc_id ASC LIMIT 10
    """
    # bm25_fuzzy oracle ("part~2 window"): expansion = dictionary terms
    # within 2 CLASSIC Levenshtein edits of 'part' (DuckDB's levenshtein
    # is the same classic edit distance as Spark's), capped top-50 by
    # (dist asc, df desc, term asc); then plain OR BM25 over expanded ∪
    # the literal SHOULD term, each with its own idf.
    bm25_fuzzy_sql = f"""
        WITH tokd AS (SELECT doc_id, unnest({tok}) AS term FROM documents),
        dl AS (SELECT doc_id, len({tok})::DOUBLE AS dl FROM documents),
        stats AS (SELECT count(*)::DOUBLE AS n, avg(dl) AS avgdl FROM dl),
        dict AS (
          SELECT term, count(DISTINCT doc_id)::DOUBLE AS df
          FROM tokd GROUP BY term
        ),
        exp AS (
          SELECT term FROM (
            SELECT term, row_number() OVER (
              ORDER BY levenshtein(term, 'part') ASC, df DESC, term ASC
            ) AS rn
            FROM dict WHERE levenshtein(term, 'part') <= 2
          ) WHERE rn <= 50
        ),
        scored(term) AS (SELECT term FROM exp UNION SELECT 'window'),
        tf AS (
          SELECT doc_id, term, count(*)::DOUBLE AS tf FROM tokd
          WHERE term IN (SELECT term FROM scored) GROUP BY doc_id, term
        ),
        scores AS (
          SELECT tf.doc_id,
                 sum(
                   ln(1 + (n - df + 0.5) / (df + 0.5)) *
                   tf / (tf + 1.2 * (1 - 0.75 + 0.75 * dl.dl / avgdl))
                 ) AS score
          FROM tf
          JOIN dict USING (term)
          JOIN dl ON tf.doc_id = dl.doc_id
          CROSS JOIN stats
          GROUP BY tf.doc_id
        )
        SELECT doc_id, round(score, 4) AS score FROM scores
        ORDER BY score DESC, doc_id ASC LIMIT 10
    """
    # bm25_phrase_slop oracle ('"table hash"~2'): ordered near-match with
    # greedy chains — for each 'table' position the MIN following 'hash'
    # position is the width-optimal chain for that start (greedy), so
    # pf = count of starts whose width (bpos − pos − 1 intervening) ≤ 2;
    # scoring identical to the exact-phrase oracle (Σ idf with
    # multiplicity, every phrase term required).
    bm25_slop_sql = f"""
        WITH tokp AS (
          SELECT doc_id, unnest({tok}) AS term,
                 generate_subscripts({tok}, 1) AS pos
          FROM documents
        ),
        dl AS (SELECT doc_id, len({tok})::DOUBLE AS dl FROM documents),
        stats AS (SELECT count(*)::DOUBLE AS n, avg(dl) AS avgdl FROM dl),
        df AS (
          SELECT term, count(DISTINCT doc_id)::DOUBLE AS df FROM tokp
          WHERE term IN ('table', 'hash') GROUP BY term
        ),
        idf AS (
          SELECT sum(ln(1 + (n - df + 0.5) / (df + 0.5))) AS idf_sum,
                 count(*) AS terms_present
          FROM df CROSS JOIN stats
        ),
        starts AS (
          SELECT a.doc_id, a.pos, min(b.pos) AS bpos
          FROM tokp a
          JOIN tokp b ON a.doc_id = b.doc_id AND b.pos > a.pos
          WHERE a.term = 'table' AND b.term = 'hash'
          GROUP BY a.doc_id, a.pos
        ),
        pf AS (
          SELECT doc_id, count(*)::DOUBLE AS pf FROM starts
          WHERE bpos - pos - 1 <= 2 GROUP BY doc_id
        ),
        scores AS (
          SELECT pf.doc_id,
                 idf_sum * pf
                 / (pf + 1.2 * (1 - 0.75 + 0.75 * dl.dl / avgdl)) AS score
          FROM pf
          JOIN dl USING (doc_id)
          CROSS JOIN stats
          CROSS JOIN idf
          WHERE terms_present = 2
        )
        SELECT doc_id, round(score, 4) AS score FROM scores
        ORDER BY score DESC, doc_id ASC LIMIT 10
    """

    # bm25_min_should oracle (OR over the standard 3 terms, mm=2): the
    # usual from-scratch BM25 with a HAVING matched-terms >= 2 gate —
    # Lucene's minimumNumberShouldMatch.
    bm25_mm_sql = f"""
        WITH q(term) AS (VALUES {bm25_terms}),
        tokd AS (SELECT doc_id, unnest({tok}) AS term FROM documents),
        dl AS (SELECT doc_id, len({tok})::DOUBLE AS dl FROM documents),
        tf AS (
          SELECT doc_id, term, count(*)::DOUBLE AS tf FROM tokd
          WHERE term IN (SELECT term FROM q) GROUP BY doc_id, term
        ),
        stats AS (SELECT count(*)::DOUBLE AS n, avg(dl) AS avgdl FROM dl),
        df AS (
          SELECT term, count(DISTINCT doc_id)::DOUBLE AS df FROM tokd
          WHERE term IN (SELECT term FROM q) GROUP BY term
        ),
        scores AS (
          SELECT tf.doc_id,
                 sum(
                   ln(1 + (n - df + 0.5) / (df + 0.5)) *
                   tf / (tf + 1.2 * (1 - 0.75 + 0.75 * dl.dl / avgdl))
                 ) AS score
          FROM tf
          JOIN df USING (term)
          JOIN dl ON tf.doc_id = dl.doc_id
          CROSS JOIN stats
          GROUP BY tf.doc_id
          HAVING count(*) >= 2
        )
        SELECT doc_id, round(score, 4) AS score FROM scores
        ORDER BY score DESC, doc_id ASC LIMIT 10
    """

    # bm25_lucene_mixed oracle ('+"table hash" filter -dup'): one scorer
    # tree — the REQUIRED exact phrase gates (pf > 0 via the adjacency
    # self-join), the SHOULD term adds its own idf·tf-saturation where
    # present, and docs containing the prohibited term are excluded; the
    # phrase contributes (Σ idf of its tokens)·pf/(pf + K(dl)) exactly as
    # in the lone-phrase oracle.
    bm25_mixed_sql = f"""
        WITH tokp AS (
          SELECT doc_id, unnest({tok}) AS term,
                 generate_subscripts({tok}, 1) AS pos
          FROM documents
        ),
        dl AS (SELECT doc_id, len({tok})::DOUBLE AS dl FROM documents),
        stats AS (SELECT count(*)::DOUBLE AS n, avg(dl) AS avgdl FROM dl),
        pdf AS (
          SELECT term, count(DISTINCT doc_id)::DOUBLE AS df FROM tokp
          WHERE term IN ('table', 'hash') GROUP BY term
        ),
        idf AS (
          SELECT sum(ln(1 + (n - df + 0.5) / (df + 0.5))) AS idf_sum,
                 count(*) AS terms_present
          FROM pdf CROSS JOIN stats
        ),
        starts AS (
          SELECT a.doc_id
          FROM tokp a
          JOIN tokp b ON a.doc_id = b.doc_id AND b.pos = a.pos + 1
          WHERE a.term = 'table' AND b.term = 'hash'
        ),
        pf AS (
          SELECT doc_id, count(*)::DOUBLE AS pf FROM starts GROUP BY doc_id
        ),
        f_df AS (
          SELECT count(DISTINCT doc_id)::DOUBLE AS df FROM tokp
          WHERE term = 'filter'
        ),
        f_tf AS (
          SELECT doc_id, count(*)::DOUBLE AS tf FROM tokp
          WHERE term = 'filter' GROUP BY doc_id
        ),
        banned AS (SELECT DISTINCT doc_id FROM tokp WHERE term = 'dup'),
        scores AS (
          SELECT pf.doc_id,
                 idf_sum * pf
                 / (pf + 1.2 * (1 - 0.75 + 0.75 * dl.dl / avgdl))
                 + coalesce(
                     ln(1 + (n - f_df.df + 0.5) / (f_df.df + 0.5)) *
                     f_tf.tf /
                     (f_tf.tf + 1.2 * (1 - 0.75 + 0.75 * dl.dl / avgdl)),
                     0.0) AS score
          FROM pf
          JOIN dl USING (doc_id)
          CROSS JOIN stats
          CROSS JOIN idf
          CROSS JOIN f_df
          LEFT JOIN f_tf ON pf.doc_id = f_tf.doc_id
          WHERE terms_present = 2
            AND pf.doc_id NOT IN (SELECT doc_id FROM banned)
        )
        SELECT doc_id, round(score, 4) AS score FROM scores
        ORDER BY score DESC, doc_id ASC LIMIT 10
    """

    bm25_and_sql = f"""
        WITH q(term) AS (VALUES ('table'), ('query'), ('filter')),
        tokd AS (SELECT doc_id, unnest({tok}) AS term FROM documents),
        dl AS (SELECT doc_id, len({tok})::DOUBLE AS dl FROM documents),
        tf AS (
          SELECT doc_id, term, count(*)::DOUBLE AS tf FROM tokd
          WHERE term IN (SELECT term FROM q) GROUP BY doc_id, term
        ),
        stats AS (SELECT count(*)::DOUBLE AS n, avg(dl) AS avgdl FROM dl),
        df AS (
          SELECT term, count(DISTINCT doc_id)::DOUBLE AS df FROM tokd
          WHERE term IN (SELECT term FROM q) GROUP BY term
        ),
        scores AS (
          SELECT tf.doc_id,
                 sum(
                   ln(1 + (n - df + 0.5) / (df + 0.5)) *
                   tf / (tf + 1.2 * (1 - 0.75 + 0.75 * dl.dl / avgdl))
                 ) AS score,
                 count(*) AS matched
          FROM tf
          JOIN df USING (term)
          JOIN dl ON tf.doc_id = dl.doc_id
          CROSS JOIN stats
          GROUP BY tf.doc_id
        )
        SELECT doc_id, round(score, 4) AS score FROM scores
        WHERE matched = (SELECT count(*) FROM q)
        ORDER BY score DESC, doc_id ASC LIMIT 10
    """
    # fq-filtered variant: identical scoring, visibility restricted to the
    # docstore predicate (Solr q + fq semantics: filters never score)
    bm25_filtered_sql = f"""
        WITH q(term) AS (VALUES {bm25_terms}),
        tokd AS (SELECT doc_id, unnest({tok}) AS term FROM documents),
        dl AS (SELECT doc_id, len({tok})::DOUBLE AS dl FROM documents),
        tf AS (
          SELECT doc_id, term, count(*)::DOUBLE AS tf FROM tokd
          WHERE term IN (SELECT term FROM q) GROUP BY doc_id, term
        ),
        stats AS (SELECT count(*)::DOUBLE AS n, avg(dl) AS avgdl FROM dl),
        df AS (
          SELECT term, count(DISTINCT doc_id)::DOUBLE AS df FROM tokd
          WHERE term IN (SELECT term FROM q) GROUP BY term
        ),
        scores AS (
          SELECT tf.doc_id,
                 sum(
                   ln(1 + (n - df + 0.5) / (df + 0.5)) *
                   tf / (tf + 1.2 * (1 - 0.75 + 0.75 * dl.dl / avgdl))
                 ) AS score
          FROM tf
          JOIN df USING (term)
          JOIN dl ON tf.doc_id = dl.doc_id
          CROSS JOIN stats
          GROUP BY tf.doc_id
        )
        SELECT doc_id, round(score, 4) AS score FROM scores
        WHERE doc_id % 3 = 0
        ORDER BY score DESC, doc_id ASC LIMIT 10
    """
    # shared full-precision BM25 scores CTE body for the paging/rerank
    # oracles: ordering happens on the UNROUNDED score column (matching the
    # engine's float ordering exactly), rounding only on output
    bm25_scores_cte = f"""
        WITH q(term) AS (VALUES {bm25_terms}),
        tokd AS (SELECT doc_id, unnest({tok}) AS term FROM documents),
        dl AS (SELECT doc_id, len({tok})::DOUBLE AS dl FROM documents),
        tf AS (
          SELECT doc_id, term, count(*)::DOUBLE AS tf FROM tokd
          WHERE term IN (SELECT term FROM q) GROUP BY doc_id, term
        ),
        stats AS (SELECT count(*)::DOUBLE AS n, avg(dl) AS avgdl FROM dl),
        df AS (
          SELECT term, count(DISTINCT doc_id)::DOUBLE AS df FROM tokd
          WHERE term IN (SELECT term FROM q) GROUP BY term
        ),
        scores AS (
          SELECT tf.doc_id,
                 sum(
                   ln(1 + (n - df + 0.5) / (df + 0.5)) *
                   tf / (tf + 1.2 * (1 - 0.75 + 0.75 * dl.dl / avgdl))
                 ) AS score
          FROM tf
          JOIN df USING (term)
          JOIN dl ON tf.doc_id = dl.doc_id
          CROSS JOIN stats
          GROUP BY tf.doc_id
        )"""
    # cursorMark page 2: rows 11-20 of the FULL ranking — the inner ORDER
    # BY runs on the raw score column so round-4 tie groups page exactly
    # like the engine's full-precision (score desc, doc_id asc) cursor
    bm25_cursor_sql = bm25_scores_cte + """
        SELECT doc_id, round(score, 4) AS score FROM (
          SELECT doc_id, score FROM scores
          ORDER BY score DESC, doc_id ASC LIMIT 10 OFFSET 10
        )
    """
    # rerank with additive function-query boost: SQL BM25 top-30 candidate
    # window (full-precision order), then score + 0.001*n_chars re-sort
    bm25_rerank_sql = bm25_scores_cte + f"""
        , cand AS (
          SELECT doc_id, score FROM scores
          ORDER BY score DESC, doc_id ASC LIMIT {Q.RERANK_K}
        ),
        boosted AS (
          SELECT c.doc_id,
                 c.score + {Q.RERANK_WEIGHT} * coalesce(d.n_chars::DOUBLE, 0)
                   AS score
          FROM cand c JOIN documents d USING (doc_id)
        )
        SELECT doc_id, round(score, 4) AS score FROM boosted
        ORDER BY score DESC, doc_id ASC LIMIT 10
    """
    # terms component: dictionary df recount from the raw corpus, prefix
    # filter + (df desc, term asc) top-15 — same deterministic boundary
    terms_component_sql = f"""
        WITH t AS (
          SELECT DISTINCT doc_id, unnest({tok}) AS term FROM documents
        )
        SELECT term, df FROM (
          SELECT term, count(*)::BIGINT AS df FROM t
          WHERE term LIKE '{Q.TERMS_PREFIX}%' GROUP BY term
          ORDER BY df DESC, term ASC LIMIT 4
        )
    """
    # spellcheck.collate: each typo's top suggestion (dist asc, df desc,
    # term asc) feeds a from-scratch BM25 over the corrected terms; the
    # collated string itself is a checked output column
    bm25_collated_sql = f"""
        WITH tokd AS (SELECT doc_id, unnest({tok}) AS term FROM documents),
        df_all AS (
          SELECT term, count(DISTINCT doc_id)::DOUBLE AS dfv
          FROM tokd GROUP BY term
        ),
        sug1 AS (
          SELECT term FROM df_all
          WHERE term != 'sot' AND levenshtein(term, 'sot') <= 2
          ORDER BY levenshtein(term, 'sot') ASC, dfv DESC, term ASC LIMIT 1
        ),
        sug2 AS (
          SELECT term FROM df_all
          WHERE term != 'windw' AND levenshtein(term, 'windw') <= 2
          ORDER BY levenshtein(term, 'windw') ASC, dfv DESC, term ASC LIMIT 1
        ),
        q(term) AS (SELECT term FROM sug1 UNION SELECT term FROM sug2),
        dl AS (SELECT doc_id, len({tok})::DOUBLE AS dl FROM documents),
        tf AS (
          SELECT doc_id, term, count(*)::DOUBLE AS tf FROM tokd
          WHERE term IN (SELECT term FROM q) GROUP BY doc_id, term
        ),
        stats AS (SELECT count(*)::DOUBLE AS n, avg(dl) AS avgdl FROM dl),
        df AS (
          SELECT term, count(DISTINCT doc_id)::DOUBLE AS df FROM tokd
          WHERE term IN (SELECT term FROM q) GROUP BY term
        ),
        scores AS (
          SELECT tf.doc_id,
                 sum(
                   ln(1 + (n - df + 0.5) / (df + 0.5)) *
                   tf / (tf + 1.2 * (1 - 0.75 + 0.75 * dl.dl / avgdl))
                 ) AS score
          FROM tf
          JOIN df USING (term)
          JOIN dl ON tf.doc_id = dl.doc_id
          CROSS JOIN stats
          GROUP BY tf.doc_id
        )
        SELECT (SELECT term FROM sug1) || ' ' || (SELECT term FROM sug2)
                 AS collated_query,
               doc_id, round(score, 4) AS score
        FROM scores ORDER BY score DESC, doc_id ASC LIMIT 10
    """
    # facet.query: per-subquery match-set counts (incl. the explicit 0)
    facet_queries_sql = f"""
        WITH tokd AS (SELECT doc_id, unnest({tok}) AS term FROM documents)
        SELECT 'any_window_join' AS facet_query,
               count(DISTINCT doc_id)::BIGINT AS n
        FROM tokd WHERE term IN ('window', 'join')
        UNION ALL
        SELECT 'missing', count(DISTINCT doc_id)::BIGINT
        FROM tokd WHERE term = 'zzznotaword'
        UNION ALL
        SELECT 'both_sort_hash', count(*)::BIGINT FROM (
          SELECT doc_id FROM tokd WHERE term IN ('sort', 'hash')
          GROUP BY doc_id HAVING count(DISTINCT term) = 2
        )
    """
    # pivot facets: match set + two-level GROUP BY + per-parent top-3
    facet_pivot_sql = f"""
        WITH q(term) AS (VALUES {bm25_terms}),
        matched AS (
          SELECT DISTINCT doc_id
          FROM (SELECT doc_id, unnest({tok}) AS term FROM documents)
          WHERE term IN (SELECT term FROM q)
        )
        SELECT lang::VARCHAR AS parent_value, source::VARCHAR AS facet_value,
               count(*)::BIGINT AS n
        FROM documents JOIN matched USING (doc_id)
        GROUP BY lang, source
        QUALIFY row_number() OVER (
          PARTITION BY parent_value ORDER BY n DESC, facet_value ASC) <= 3
    """
    # decontamination: both sides reduce to DISTINCT md5-60 8-gram hashes
    # (matching textops._ngram_hashes) before the join
    decontaminate_sql = f"""
        WITH t AS (SELECT doc_id, {tok} AS toks FROM documents),
        grams AS (
          SELECT DISTINCT doc_id, {_hexint('gram')} AS g FROM (
            SELECT doc_id, array_to_string(toks[i:i+7], ' ') AS gram
            FROM t, unnest(range(1, len(toks) - 6)) AS u(i)
            WHERE len(toks) >= 8
          )
        ),
        bench AS (SELECT DISTINCT g FROM grams WHERE doc_id % 50 = 0),
        shared AS (
          SELECT doc_id, count(*)::BIGINT AS n
          FROM grams JOIN bench USING (g) GROUP BY doc_id
        )
        SELECT d.doc_id,
               coalesce(n, 0)::BIGINT AS shared_ngrams,
               coalesce(n, 0) >= 1 AS contaminated
        FROM documents d LEFT JOIN shared USING (doc_id)
    """
    # PII: identical planting rule, identical RE2 patterns (group 0), md5
    # of the redacted text checked whole
    pii_text2 = (
        "text || "
        "(CASE WHEN doc_id % 3 = 0 THEN ' user' || doc_id || '@example.com' "
        " ELSE '' END) || "
        "(CASE WHEN doc_id % 7 = 0 THEN ' call +1 415-555-0100' "
        " ELSE '' END) || "
        "(CASE WHEN doc_id % 11 = 0 THEN ' from 10.0.' || (doc_id % 256) "
        " || '.25' ELSE '' END)"
    )
    pii_email = r"[A-Za-z0-9._%+\-]+@[A-Za-z0-9.\-]+\.[A-Za-z]{2,}"
    pii_phone = r"\+?\(?[0-9][0-9()\- ]{7,}[0-9]"
    pii_ipv4 = r"([0-9]{1,3}\.){3}[0-9]{1,3}"
    pii_sql = f"""
        WITH d2 AS (SELECT doc_id, {pii_text2} AS t2 FROM documents)
        SELECT doc_id,
               len(regexp_extract_all(t2, '{pii_email}'))::BIGINT AS n_email,
               len(regexp_extract_all(t2, '{pii_phone}'))::BIGINT AS n_phone,
               len(regexp_extract_all(t2, '{pii_ipv4}'))::BIGINT AS n_ipv4,
               md5(regexp_replace(regexp_replace(regexp_replace(t2,
                     '{pii_email}', '<EMAIL>', 'g'),
                     '{pii_phone}', '<PHONE>', 'g'),
                     '{pii_ipv4}', '<IPV4>', 'g')) AS redacted_md5
        FROM d2
    """
    # repetition: exploded line/2-gram recounts over the same planted
    # two-line corpus (every 4th doc duplicates its text as line 2)
    tok2 = "regexp_extract_all(lower(t2), '" + TOKEN_RE2 + "')"
    repetition_sql = f"""
        WITH d2 AS (
          SELECT doc_id,
                 CASE WHEN doc_id % 4 = 0 THEN text || chr(10) || text
                      ELSE text || chr(10) || 'tail' || doc_id END AS t2
          FROM documents
        ),
        lines AS (
          SELECT doc_id, trim(line) AS line
          FROM (SELECT doc_id, unnest(string_split(t2, chr(10))) AS line
                FROM d2)
          WHERE length(trim(line)) > 0
        ),
        lc AS (
          SELECT doc_id, line, count(*)::DOUBLE AS c,
                 length(line)::DOUBLE AS ln
          FROM lines GROUP BY doc_id, line
        ),
        la AS (
          SELECT doc_id, sum(c) AS n_lines, count(*)::DOUBLE AS n_distinct,
                 sum(ln * c) AS line_chars,
                 sum(CASE WHEN c > 1 THEN ln * c ELSE 0 END) AS dup_chars
          FROM lc GROUP BY doc_id
        ),
        g2 AS (
          SELECT doc_id, array_to_string(toks[i:i+1], ' ') AS g
          FROM (SELECT doc_id, {tok2} AS toks FROM d2),
               unnest(range(1, len(toks))) AS u(i)
          WHERE len(toks) >= 2
        ),
        ga AS (
          SELECT doc_id, count(*)::DOUBLE AS n_g,
                 count(DISTINCT g)::DOUBLE AS n_dg
          FROM g2 GROUP BY doc_id
        )
        SELECT d.doc_id,
               coalesce(n_lines, 0)::BIGINT AS n_lines,
               round(CASE WHEN coalesce(n_lines, 0) > 0
                          THEN 1 - n_distinct / n_lines ELSE 0 END, 6)
                 AS dup_line_frac,
               round(CASE WHEN coalesce(line_chars, 0) > 0
                          THEN dup_chars / line_chars ELSE 0 END, 6)
                 AS dup_line_char_frac,
               round(CASE WHEN coalesce(n_g, 0) > 0
                          THEN 1 - n_dg / n_g ELSE 0 END, 6)
                 AS dup_2gram_frac
        FROM documents d
        LEFT JOIN la USING (doc_id)
        LEFT JOIN ga USING (doc_id)
    """

    # SynonymQuery scoring: per-group tf SUM + max-member-df idf
    bm25_synonyms_sql = f"""
        WITH tokd AS (SELECT doc_id, unnest({tok}) AS term FROM documents),
        dl AS (SELECT doc_id, len({tok})::DOUBLE AS dl FROM documents),
        stats AS (
          SELECT count(*)::DOUBLE AS n, avg(dl) AS avgdl FROM dl
        ),
        tf AS (
          SELECT doc_id, term, count(*)::DOUBLE AS tf FROM tokd
          WHERE term IN ('sort', 'order', 'fast', 'quick')
          GROUP BY doc_id, term
        ),
        dfv AS (
          SELECT term, count(DISTINCT doc_id)::DOUBLE AS df FROM tokd
          WHERE term IN ('sort', 'order', 'fast', 'quick')
          GROUP BY term
        ),
        gtf AS (
          SELECT doc_id,
                 CASE WHEN term IN ('sort', 'order') THEN 'g_sort'
                      ELSE 'g_fast' END AS g,
                 sum(tf) AS tf
          FROM tf GROUP BY doc_id, g
        ),
        gdf AS (
          SELECT CASE WHEN term IN ('sort', 'order') THEN 'g_sort'
                      ELSE 'g_fast' END AS g,
                 max(df) AS df
          FROM dfv GROUP BY g
        ),
        scores AS (
          SELECT gtf.doc_id,
                 sum(
                   ln(1 + (n - df + 0.5) / (df + 0.5)) *
                   tf / (tf + 1.2 * (1 - 0.75 + 0.75 * dl.dl / avgdl))
                 ) AS score
          FROM gtf
          JOIN gdf USING (g)
          JOIN dl ON gtf.doc_id = dl.doc_id
          CROSS JOIN stats
          GROUP BY gtf.doc_id
        )
        SELECT doc_id, round(score, 4) AS score FROM scores
        ORDER BY score DESC, doc_id ASC LIMIT 10
    """
    return {
        "archive_filter": """
            SELECT o_orderkey, o_custkey, round(o_totalprice, 2) AS total_price
            FROM orders WHERE o_orderstatus = 'F'
        """,
        "fq_and_or": """
            SELECT l_orderkey, l_linenumber, l_returnflag, l_linestatus
            FROM lineitem
            WHERE (l_returnflag = 'R' AND l_linestatus = 'F') OR l_quantity < 3
        """,
        "point_lookup": """
            SELECT o_orderkey, o_custkey, o_orderstatus
            FROM orders WHERE o_orderkey = 500
        """,
        "pagination": """
            SELECT o_orderkey, o_orderstatus FROM orders
            ORDER BY o_orderkey LIMIT 50 OFFSET 100
        """,
        "projection": "SELECT c_custkey, c_name, c_nationkey FROM customer",
        "delete_by_query": """
            SELECT count(*)::BIGINT AS remaining
            FROM orders WHERE NOT (o_orderstatus = 'F')
        """,
        "agg_summary": """
            SELECT l_returnflag, l_linestatus,
                   round(sum(l_quantity), 2) AS sum_qty,
                   round(sum(l_extendedprice), 1) AS sum_base_price,
                   round(avg(l_discount), 6) AS avg_disc,
                   count(*)::BIGINT AS count_order
            FROM lineitem
            WHERE l_shipdate <= TIMESTAMP '2024-09-01 00:00:00'
            GROUP BY l_returnflag, l_linestatus
        """,
        "error_summary": """
            SELECT event_type,
                   count(DISTINCT user_id)::BIGINT AS distinct_users,
                   count(*)::BIGINT AS n_events
            FROM events GROUP BY event_type
        """,
        "derived_dates": """
            WITH y AS (
              SELECT o_orderkey, strftime(o_orderdate, '%Y') AS year4,
                     CAST(substr(strftime(o_orderdate, '%Y'), 3, 2) AS INT) AS sub
              FROM orders
            )
            SELECT o_orderkey, year4,
                   substr(year4, 1, 3) || '0' AS decade,
                   substr(year4, 1, 2) ||
                     CASE WHEN sub >= 75 THEN '75' WHEN sub >= 50 THEN '50'
                          WHEN sub >= 25 THEN '25' ELSE '00' END AS quarter_century,
                   substr(year4, 1, 2) ||
                     CASE WHEN sub >= 50 THEN '50' ELSE '00' END AS half_century,
                   substr(year4, 1, 2) || '00' AS century
            FROM y
        """,
        "first_last": """
            WITH ranked AS (
              SELECT o_custkey, o_orderkey,
                     row_number() OVER (PARTITION BY o_custkey
                                        ORDER BY o_orderdate, o_orderkey) AS rn_a,
                     row_number() OVER (PARTITION BY o_custkey
                                        ORDER BY o_orderdate DESC, o_orderkey DESC) AS rn_d
              FROM orders
            )
            SELECT o_custkey,
                   min(CASE WHEN rn_a = 1 THEN o_orderkey END) AS first_order,
                   min(CASE WHEN rn_d = 1 THEN o_orderkey END) AS last_order
            FROM ranked WHERE rn_a = 1 OR rn_d = 1
            GROUP BY o_custkey
        """,
        "window_running": """
            SELECT event_id, user_id,
                   round(max(value) OVER w, 2) AS running_max,
                   (count(*) OVER w)::BIGINT AS running_n
            FROM events
            WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        """,
        "full_outer_compare": """
            WITH c AS (SELECT DISTINCT c_custkey AS key, 1 AS in_c FROM customer),
                 o AS (SELECT DISTINCT o_custkey AS key, 1 AS in_o FROM orders)
            SELECT coalesce(c.key, o.key) AS key,
                   CASE WHEN in_c IS NOT NULL AND in_o IS NOT NULL THEN 'matched'
                        WHEN in_c IS NOT NULL THEN 'not reindexed'
                        ELSE 'introduced' END AS status
            FROM c FULL OUTER JOIN o ON c.key = o.key
        """,
        "except_all": """
            SELECT c_custkey AS key FROM customer
            EXCEPT ALL
            SELECT o_custkey AS key FROM orders
        """,
        "resolve_join": """
            SELECT n_nationkey, n_name, r_name AS region_name
            FROM nation JOIN region ON n_regionkey = r_regionkey
        """,
        "multi_join_topk": """
            SELECT o_orderkey,
                   round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
            FROM lineitem
            JOIN orders ON l_orderkey = o_orderkey
            JOIN customer ON o_custkey = c_custkey
            GROUP BY o_orderkey
            ORDER BY revenue DESC, o_orderkey ASC
            LIMIT 10
        """,
        "events_tumbling": """
            SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS window_start,
                   event_type,
                   count(*)::BIGINT AS n,
                   round(sum(value), 2) AS sum_value
            FROM events GROUP BY 1, 2
        """,
        "text_size_windows": """
            -- doc_ids are dense 0..N-1, so window = doc_id // 100 on both
            -- sides (no global-order window anywhere)
            SELECT (doc_id // 100)::BIGINT AS window_id,
                   sum(length(text))::BIGINT AS window_bytes,
                   max(length(text))::BIGINT AS max_doc_bytes,
                   count(*)::BIGINT AS docs
            FROM documents GROUP BY 1
        """,
        "token_count": f"""
            SELECT doc_id, len({tok})::BIGINT AS n_tokens FROM documents
        """,
        "postings": f"""
            WITH t AS (SELECT doc_id, unnest({tok}) AS term FROM documents)
            SELECT term, doc_id, count(*)::BIGINT AS tf
            FROM t WHERE term IN ('data', 'spark', 'query')
            GROUP BY term, doc_id
        """,
        "term_df": f"""
            WITH t AS (
              SELECT DISTINCT doc_id, unnest({tok}) AS term FROM documents
            )
            SELECT term, count(*)::BIGINT AS df FROM t GROUP BY term
        """,
        "corpus_stats": f"""
            WITH dl AS (SELECT len({tok}) AS dl FROM documents)
            SELECT count(*)::BIGINT AS n_docs,
                   round(avg(dl), 4) AS avgdl,
                   sum(dl)::BIGINT AS total_tokens
            FROM dl
        """,
        "bm25_scores": f"""
            WITH q(term) AS (VALUES {bm25_terms}),
            tokd AS (SELECT doc_id, unnest({tok}) AS term FROM documents),
            -- dl from the documents table directly (NOT from tokd, which
            -- drops zero-token docs): N and avgdl must count ALL docs,
            -- matching the Spark plan and the on-disk index stats
            dl AS (SELECT doc_id, len({tok})::DOUBLE AS dl FROM documents),
            tf AS (
              SELECT doc_id, term, count(*)::DOUBLE AS tf FROM tokd
              WHERE term IN (SELECT term FROM q) GROUP BY doc_id, term
            ),
            stats AS (SELECT count(*)::DOUBLE AS n, avg(dl) AS avgdl FROM dl),
            df AS (
              SELECT term, count(DISTINCT doc_id)::DOUBLE AS df FROM tokd
              WHERE term IN (SELECT term FROM q) GROUP BY term
            )
            SELECT tf.doc_id,
                   round(sum(
                     ln(1 + (n - df + 0.5) / (df + 0.5)) *
                     tf / (tf + 1.2 * (1 - 0.75 + 0.75 * dl.dl / avgdl))
                   ), 4) AS score
            FROM tf
            JOIN df USING (term)
            JOIN dl ON tf.doc_id = dl.doc_id
            CROSS JOIN stats
            GROUP BY tf.doc_id
        """,
        "bm25_topk_wand": bm25_topk_sql,
        "bm25_topk_wand_dist": bm25_topk_sql,
        # the SQL table-valued surface (SELECT * FROM bm25_search(...)) must
        # equal the same from-scratch SQL BM25 as the other two paths
        "bm25_sql_surface": bm25_topk_sql,
        # q+fq through the SQL surface: same filtered oracle as the
        # distributed filtered route (scores unchanged, visibility filtered)
        "bm25_sql_fq": bm25_filtered_sql,
        "bm25_topk_and": bm25_and_sql,
        # exact phrase over the positional index vs the from-scratch
        # positional SQL restatement (slot-adjacency self-join)
        "bm25_topk_phrase": bm25_phrase_sql,
        # multi-term clause expansion + sloppy phrase (r5)
        "bm25_wildcard": bm25_wildcard_sql,
        "bm25_fuzzy": bm25_fuzzy_sql,
        "bm25_phrase_slop": bm25_slop_sql,
        "bm25_lucene_mixed": bm25_mixed_sql,
        "bm25_min_should": bm25_mm_sql,
        # index mutation (update_documents = delete+append) vs the
        # two-version-corpus SQL restatement (deleted-docs statistics)
        "bm25_after_update": bm25_update_sql,
        "bm25_topk_filtered": bm25_filtered_sql,
        "bm25_batch": bm25_batch_sql,
        "bm25_facets": facets_sql,
        "facet_browse": facet_browse_sql,
        "bm25_mlt": mlt_sql,
        # deep paging / dictionary browse / pivot facets / rerank (r5)
        "bm25_cursor_page2": bm25_cursor_sql,
        "terms_component": terms_component_sql,
        "facet_pivot": facet_pivot_sql,
        "bm25_rerank": bm25_rerank_sql,
        "bm25_collated": bm25_collated_sql,
        "facet_queries": facet_queries_sql,
        "decontaminate": decontaminate_sql,
        "pii_scan": pii_sql,
        "repetition": repetition_sql,
        "bm25_synonyms": bm25_synonyms_sql,
        "bm25_sql_facets": facets_sql,
        # spellcheck: dictionary df recomputed from the corpus, identical
        # (distance asc, df desc, term asc) ranking and the same
        # input-term exclusion as IndexReader.suggest
        "spell_suggest": f"""
            WITH tokd AS (
              SELECT doc_id, unnest({tok}) AS term FROM documents
            ),
            df AS (
              SELECT term, count(DISTINCT doc_id)::BIGINT AS df
              FROM tokd GROUP BY term
            )
            SELECT term, df, levenshtein(term, 'sot')::INT AS dist
            FROM df
            WHERE term != 'sot' AND levenshtein(term, 'sot') <= 2
            ORDER BY dist ASC, df DESC, term ASC LIMIT 5
        """,
        # Solr sort=<field>: the OR match set ordered by the stored field
        # (no scoring), doc_id tiebreak
        "bm25_sort_field": f"""
            WITH q(term) AS (VALUES {bm25_terms}),
            matched AS (
              SELECT DISTINCT doc_id
              FROM (SELECT doc_id, unnest({tok}) AS term FROM documents)
              WHERE term IN (SELECT term FROM q)
            )
            SELECT doc_id, n_chars
            FROM documents JOIN matched USING (doc_id)
            ORDER BY n_chars ASC, doc_id ASC LIMIT 10
        """,
        # Solr result grouping (group.field=lang): same BM25 score CTE,
        # then top-2 per lang inside the 3 groups with the best top doc
        "bm25_grouped": f"""
            WITH q(term) AS (VALUES {bm25_terms}),
            tokd AS (SELECT doc_id, unnest({tok}) AS term FROM documents),
            dl AS (SELECT doc_id, len({tok})::DOUBLE AS dl FROM documents),
            tf AS (
              SELECT doc_id, term, count(*)::DOUBLE AS tf FROM tokd
              WHERE term IN (SELECT term FROM q) GROUP BY doc_id, term
            ),
            stats AS (SELECT count(*)::DOUBLE AS n, avg(dl) AS avgdl
                      FROM dl),
            df AS (
              SELECT term, count(DISTINCT doc_id)::DOUBLE AS df FROM tokd
              WHERE term IN (SELECT term FROM q) GROUP BY term
            ),
            scores AS (
              SELECT tf.doc_id,
                     sum(
                       ln(1 + (n - df + 0.5) / (df + 0.5)) *
                       tf / (tf + 1.2 * (1 - 0.75 + 0.75 * dl.dl / avgdl))
                     ) AS score
              FROM tf
              JOIN df USING (term)
              JOIN dl ON tf.doc_id = dl.doc_id
              CROSS JOIN stats
              GROUP BY tf.doc_id
            ),
            joined AS (
              SELECT s.doc_id, s.score, d.lang
              FROM scores s JOIN documents d USING (doc_id)
            ),
            ranked AS (
              SELECT lang, doc_id, score,
                     row_number() OVER (
                       PARTITION BY lang
                       ORDER BY score DESC, doc_id ASC) AS doc_rank
              FROM joined
            ),
            top_groups AS (
              SELECT lang FROM joined GROUP BY lang
              ORDER BY max(score) DESC, lang ASC LIMIT 3
            )
            SELECT lang, doc_id, round(score, 4) AS score, doc_rank
            FROM ranked JOIN top_groups USING (lang)
            WHERE doc_rank <= 2
        """,
        # Solr facet.range over n_chars: every 250-wide bucket in
        # [0, 2000), zeros included, counts over the OR match set
        "facet_range": f"""
            WITH q(term) AS (VALUES {bm25_terms}),
            matched AS (
              SELECT DISTINCT doc_id
              FROM (SELECT doc_id, unnest({tok}) AS term FROM documents)
              WHERE term IN (SELECT term FROM q)
            ),
            spine AS (
              SELECT generate_series::DOUBLE AS bucket_start
              FROM generate_series(0, 1999, 250)
            ),
            counts AS (
              SELECT 0.0 + floor((n_chars - 0.0) / 250.0) * 250.0
                       AS bucket_start,
                     count(*)::BIGINT AS n
              FROM documents JOIN matched USING (doc_id)
              WHERE n_chars >= 0 AND n_chars < 2000
              GROUP BY 1
            )
            SELECT spine.bucket_start,
                   coalesce(counts.n, 0)::BIGINT AS n
            FROM spine LEFT JOIN counts USING (bucket_start)
            ORDER BY spine.bucket_start
        """,
        # Solr stats.field over n_chars on the same match set
        "field_stats": f"""
            WITH q(term) AS (VALUES {bm25_terms}),
            matched AS (
              SELECT DISTINCT doc_id
              FROM (SELECT doc_id, unnest({tok}) AS term FROM documents)
              WHERE term IN (SELECT term FROM q)
            )
            SELECT count(*)::BIGINT AS n,
                   min(n_chars) AS min, max(n_chars) AS max,
                   sum(n_chars)::BIGINT AS sum,
                   round(avg(n_chars), 6) AS mean
            FROM documents JOIN matched USING (doc_id)
        """,
        # Lucene BooleanQuery '+window join^2 -merge': MUST terms gate the
        # match set (HAVING all required), boosted SHOULD terms add
        # boost·idf·tfnorm where present, MUST_NOT docs excluded — the
        # same per-term BM25 kernel as every other entry
        "bm25_boolean": f"""
            WITH q(term, boost, req) AS (
              VALUES ('window', 1.0, 1), ('join', 2.0, 0)
            ),
            tokd AS (SELECT doc_id, unnest({tok}) AS term FROM documents),
            dl AS (SELECT doc_id, len({tok})::DOUBLE AS dl FROM documents),
            stats AS (SELECT count(*)::DOUBLE AS n, avg(dl) AS avgdl
                      FROM dl),
            tf AS (
              SELECT doc_id, term, count(*)::DOUBLE AS tf FROM tokd
              WHERE term IN (SELECT term FROM q) GROUP BY doc_id, term
            ),
            df AS (
              SELECT term, count(DISTINCT doc_id)::DOUBLE AS df FROM tokd
              WHERE term IN (SELECT term FROM q) GROUP BY term
            ),
            matched AS (
              SELECT doc_id FROM tf JOIN q USING (term)
              WHERE q.req = 1 GROUP BY doc_id
              HAVING count(DISTINCT term) =
                     (SELECT count(*) FROM q WHERE req = 1)
            ),
            excl AS (
              SELECT DISTINCT doc_id FROM tokd WHERE term = 'merge'
            ),
            scores AS (
              SELECT tf.doc_id,
                     sum(
                       q.boost *
                       ln(1 + (n - df + 0.5) / (df + 0.5)) *
                       tf / (tf + 1.2 * (1 - 0.75 + 0.75 * dl.dl / avgdl))
                     ) AS score
              FROM tf
              JOIN q USING (term)
              JOIN df USING (term)
              JOIN dl ON tf.doc_id = dl.doc_id
              CROSS JOIN stats
              WHERE tf.doc_id IN (SELECT doc_id FROM matched)
                AND tf.doc_id NOT IN (SELECT doc_id FROM excl)
              GROUP BY tf.doc_id
            )
            SELECT doc_id, round(score, 4) AS score FROM scores
            ORDER BY score DESC, doc_id ASC LIMIT 10
        """,
        # highlighting: the same from-scratch BM25 top-10, then the
        # snippet = densest 8-token window (enumerate every start, count
        # query-term tokens, ties earliest) with <em> marks — rebuilt
        # entirely from the pinned token stream, byte-identical to
        # highlight.highlight_hits
        "bm25_highlight": f"""
            WITH q(term) AS (VALUES {bm25_terms}),
            tokd AS (SELECT doc_id, unnest({tok}) AS term FROM documents),
            dl AS (SELECT doc_id, len({tok})::DOUBLE AS dl FROM documents),
            tf AS (
              SELECT doc_id, term, count(*)::DOUBLE AS tf FROM tokd
              WHERE term IN (SELECT term FROM q) GROUP BY doc_id, term
            ),
            stats AS (SELECT count(*)::DOUBLE AS n, avg(dl) AS avgdl FROM dl),
            df AS (
              SELECT term, count(DISTINCT doc_id)::DOUBLE AS df FROM tokd
              WHERE term IN (SELECT term FROM q) GROUP BY term
            ),
            scores AS (
              SELECT tf.doc_id,
                     sum(
                       ln(1 + (n - df + 0.5) / (df + 0.5)) *
                       tf / (tf + 1.2 * (1 - 0.75 + 0.75 * dl.dl / avgdl))
                     ) AS score
              FROM tf
              JOIN df USING (term)
              JOIN dl ON tf.doc_id = dl.doc_id
              CROSS JOIN stats
              GROUP BY tf.doc_id
            ),
            topk AS (
              SELECT doc_id, score FROM scores
              ORDER BY score DESC, doc_id ASC LIMIT 10
            ),
            tl AS (
              SELECT d.doc_id, {tok} AS toks
              FROM documents d JOIN topk USING (doc_id)
            ),
            starts AS (
              SELECT doc_id, toks,
                     unnest(range(0, greatest(len(toks) - 8, 0) + 1)) AS s
              FROM tl
            ),
            windows AS (
              SELECT doc_id, toks, s,
                     len(list_filter(toks[s + 1 : s + 8],
                         t -> list_contains(['window', 'shuffle', 'join'],
                                            t))) AS m
              FROM starts
            ),
            best AS (
              SELECT doc_id, toks, s FROM windows
              QUALIFY row_number() OVER (
                PARTITION BY doc_id ORDER BY m DESC, s ASC) = 1
            )
            SELECT topk.doc_id, round(topk.score, 4) AS score,
                   array_to_string(list_transform(
                     best.toks[best.s + 1 : best.s + 8],
                     t -> CASE WHEN list_contains(
                              ['window', 'shuffle', 'join'], t)
                          THEN '<em>' || t || '</em>' ELSE t END), ' ')
                     AS snippet
            FROM topk JOIN best USING (doc_id)
        """,
        "exact_dedup": """
            SELECT md5(text) AS content_md5,
                   count(*)::BIGINT AS dup_count,
                   min(doc_id) AS canonical_id
            FROM documents GROUP BY md5(text)
        """,
        "quality": f"""
            WITH t AS (
              SELECT doc_id, text, {tok} AS toks,
                     length(text) AS n_chars FROM documents
            )
            SELECT doc_id,
                   len(toks)::BIGINT AS n_tokens,
                   round((n_chars - length(regexp_replace(text, '[^\\w\\s]', '', 'g')))
                         / greatest(n_chars, 1), 6) AS punct_ratio,
                   round(len(list_filter(toks, x -> x IN
                     ('the','a','an','and','or','of','to','in','is','it','that',
                      'was','for','on','with','as','at','by','be','this')))
                         / greatest(len(toks), 1), 6) AS stopword_ratio,
                   round(len(list_distinct(toks))
                         / greatest(len(toks), 1), 6) AS unique_ratio
            FROM t
        """,
        "ann_cosine": """
            -- embeddings are float32 on disk; accumulate in float64 like the
            -- Spark plan (zip_with + aggregate over doubles)
            WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings),
                 q AS (SELECT emb AS qv FROM e WHERE vec_id = 0)
            SELECT vec_id,
                   round(
                     list_dot_product(emb, qv) /
                     (sqrt(list_dot_product(qv, qv)) *
                      sqrt(list_dot_product(emb, emb))),
                   5) AS cosine
            FROM e CROSS JOIN q
        """,
        "sessionize": """
            -- batch twin of the applyInPandasWithState sessionizer: lag +
            -- cumulative new-session flag + per-session groupBy, 30-min gap
            WITH d AS (
              SELECT user_id, ts, value,
                     lag(ts) OVER (PARTITION BY user_id ORDER BY ts) AS prev
              FROM events
            ),
            f AS (
              SELECT *, CASE WHEN prev IS NULL
                              OR epoch_ms(ts) - epoch_ms(prev) > 1800000
                         THEN 1 ELSE 0 END AS new_sess
              FROM d
            ),
            g AS (
              SELECT *, sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts
                        ROWS UNBOUNDED PRECEDING) AS sess
              FROM f
            )
            SELECT user_id,
                   strftime(min(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
                   strftime(max(ts), '%Y-%m-%d %H:%M:%S') AS session_end,
                   count(*)::BIGINT AS n_events,
                   round(sum(value), 2) AS sum_value
            FROM g GROUP BY user_id, sess
        """,
        "ann_batch": """
            WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings),
            q AS (SELECT vec_id::INT AS query_id, emb AS qv FROM e WHERE vec_id < 5),
            s AS (
              SELECT q.query_id, e.vec_id,
                     list_dot_product(e.emb, q.qv) /
                     (sqrt(list_dot_product(q.qv, q.qv)) *
                      sqrt(list_dot_product(e.emb, e.emb))) AS cosine,
                     row_number() OVER (PARTITION BY q.query_id
                                        ORDER BY list_dot_product(e.emb, q.qv) /
                                        (sqrt(list_dot_product(q.qv, q.qv)) *
                                         sqrt(list_dot_product(e.emb, e.emb))) DESC,
                                        e.vec_id ASC) AS rank
              FROM e CROSS JOIN q
            )
            SELECT query_id, vec_id, round(cosine, 5) AS cosine, rank::INT AS rank
            FROM s WHERE rank <= 5
        """,
        # RDF parse-layer goldens (new in r2). These are literal expected
        # outputs for the reference's own test fixtures, in the reference's
        # IndexerError (file, uri, message) shape (ErrorReport.java:41-52).
        # Lines trace to reference source semantics: the nines:* blanket
        # rejection is NinesStatementHandler.java:103-106 (the shipped
        # test_data/report.txt predates that change — it still has the older
        # per-property message — so current-source behavior is authoritative;
        # divergence documented in COVERAGE.md); "Invalid date format" is
        # years.py/parseYears parity; "No objects in this file." is
        # RDFIndexer.java's empty-file error; the FATAL PARSE ERROR line is
        # our XML parser's message for the same SAXParseException (documented
        # message-text divergence, same file/line/uri). Field-level goldens
        # for the parsed documents live in tests/test_pipeline.py.
        "rdf_documents": """
            SELECT * FROM (VALUES
              ('bad_nines_element.rdf', 'http://www.patacriticism.org/test/bad_nines_element', 18),
              ('bad_date.rdf', 'http://www.patacriticism.org/test/bad_nines_element', 14),
              ('role_test.rdf', 'http://www.rossettiarchive.org/docs/f20.s254.rap', 15)
            ) AS t(file, uri, n_fields)
        """,
        "rdf_errors": """
            SELECT * FROM (VALUES
              ('invalid_xml.rdf', '', 'FATAL PARSE ERROR at line 1, col 0 : syntax error: line 1, column 0'),
              ('invalid_xml.rdf', '', 'No objects in this file.'),
              ('bad_nines_element.rdf', 'http://www.patacriticism.org/test/bad_nines_element', 'NINES is no longer a valid attribute: http://www.nines.org/schema#archive'),
              ('bad_nines_element.rdf', 'http://www.patacriticism.org/test/bad_nines_element', 'NINES is no longer a valid attribute: http://www.nines.org/schema#genre'),
              ('bad_nines_element.rdf', 'http://www.patacriticism.org/test/bad_nines_element', 'NINES is no longer a valid attribute: http://www.nines.org/schema#seeAlso'),
              ('bad_date.rdf', 'http://www.patacriticism.org/test/bad_nines_element', 'NINES is no longer a valid attribute: http://www.nines.org/schema#archive'),
              ('bad_date.rdf', 'http://www.patacriticism.org/test/bad_nines_element', 'NINES is no longer a valid attribute: http://www.nines.org/schema#genre'),
              ('bad_date.rdf', 'http://www.patacriticism.org/test/bad_nines_element', 'Invalid date format: 1869 November 15 (before 25 November)'),
              ('role_test.rdf', 'http://www.rossettiarchive.org/docs/f20.s254.rap', 'NINES is no longer a valid attribute: http://www.nines.org/schema#archive'),
              ('role_test.rdf', 'http://www.rossettiarchive.org/docs/f20.s254.rap', 'NINES is no longer a valid attribute: http://www.nines.org/schema#genre'),
              ('role_test.rdf', 'http://www.rossettiarchive.org/docs/f20.s254.rap', 'NINES is no longer a valid attribute: http://www.nines.org/schema#genre'),
              ('role_test.rdf', 'http://www.rossettiarchive.org/docs/f20.s254.rap', 'NINES is no longer a valid attribute: http://www.nines.org/schema#text'),
              ('role_test.rdf', 'http://www.rossettiarchive.org/docs/f20.s254.rap', 'NINES is no longer a valid attribute: http://www.nines.org/schema#thumbnail'),
              ('role_test.rdf', 'http://www.rossettiarchive.org/docs/f20.s254.rap', 'NINES is no longer a valid attribute: http://www.nines.org/schema#image'),
              ('role_test.rdf', 'http://www.rossettiarchive.org/docs/f20.s254.rap', 'NINES is no longer a valid attribute: http://www.nines.org/schema#source'),
              ('role_test.rdf', 'http://www.rossettiarchive.org/docs/f20.s254.rap', 'Invalid date format: unknown')
            ) AS t(file, uri, message)
        """,
        # LSH/sketch oracles (new in r2): the engine generates candidates by
        # LSH but its CONTRACT is brute-force-restateable; recall == 1 on the
        # deterministic sandbox corpora is asserted separately in pytest.
        "minhash_neardup": f"""
            -- ground truth for the exact-verified MinHash/LSH near-dup op:
            -- all pairs with distinct-3-gram Jaccard >= 0.8 (docs under 3
            -- tokens have an empty gram set, same as the Spark plan)
            WITH t AS (SELECT doc_id, {tok} AS toks FROM documents),
            g AS (SELECT doc_id,
                    CASE WHEN len(toks) >= 3
                         THEN list_distinct([array_to_string(toks[i:i+2], ' ')
                                             for i in range(1, len(toks)-1)])
                         ELSE []::VARCHAR[] END AS grams
                  FROM t),
            pairs AS (
              SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                     round(len(list_intersect(a.grams, b.grams))::DOUBLE
                           / greatest(len(list_distinct(a.grams || b.grams)), 1),
                           6) AS jaccard
              FROM g a JOIN g b ON a.doc_id < b.doc_id
            )
            SELECT id_a, id_b, jaccard FROM pairs WHERE jaccard >= 0.8
        """,
        "embed_neardup": """
            -- dense-vector member of the dedup family: brute-force all-pairs
            -- cosine >= 0.9 over the embeddings table + 60 planted near-dups
            -- (vec_id < 60 copied as vec_id+100000, per-dim scale
            -- 1 + ((vec_id+i) mod 5)*0.02 — the synthetic embeddings are
            -- near-orthogonal, max background pair cosine ~0.51, so the
            -- planted pairs at ~0.9996 are the complete answer set). The
            -- engine generates candidates by hyperplane-LSH banding and
            -- verifies exactly; recall == 1 on this deterministic corpus is
            -- asserted in tests/test_similarity.py. DuckDB lambda index i is
            -- 1-based, Spark transform() is 0-based — hence (i - 1).
            WITH base AS (
              SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings
            ),
            aug AS (
              SELECT vec_id + 100000 AS vec_id,
                     list_transform(e, (x, i) ->
                       x * (1.0 + ((vec_id + i - 1) % 5) * 0.02)) AS e
              FROM base WHERE vec_id < 60
            ),
            corpus AS (
              SELECT vec_id, e FROM base UNION ALL SELECT vec_id, e FROM aug
            )
            SELECT a.vec_id AS id_a, b.vec_id AS id_b,
                   round(list_dot_product(a.e, b.e) /
                         (sqrt(list_dot_product(a.e, a.e)) *
                          sqrt(list_dot_product(b.e, b.e))), 5) AS cosine
            FROM corpus a JOIN corpus b ON a.vec_id < b.vec_id
            WHERE list_dot_product(a.e, b.e) /
                  (sqrt(list_dot_product(a.e, a.e)) *
                   sqrt(list_dot_product(b.e, b.e))) >= 0.9
        """,
        "simhash_neardup": f"""
            -- 60-bit simhash recomputed from scratch: per-token md5-60
            -- hashes ({HEXINT_DOC}), per-bit majority vote over all token
            -- occurrences, then the engine's exact candidate rule (at least
            -- one of four 16-bit chunks equal) + Hamming <= 8
            WITH t AS (SELECT doc_id, {tok} AS toks FROM documents),
            tokr AS (SELECT doc_id, unnest(toks) AS s FROM t),
            th AS (SELECT doc_id, {_hexint('s')} AS h FROM tokr),
            bits AS (
              SELECT doc_id, b, 2*sum(((h >> b) & 1)) - count(*) AS vote
              FROM th, (SELECT unnest(range(60)) AS b) bs
              GROUP BY doc_id, b
            ),
            sh0 AS (
              SELECT doc_id,
                     sum(CASE WHEN vote > 0 THEN (1::BIGINT << b) ELSE 0 END)::BIGINT AS sh
              FROM bits GROUP BY doc_id
            ),
            sh AS (
              SELECT d.doc_id, coalesce(s.sh, 0)::BIGINT AS sh
              FROM documents d LEFT JOIN sh0 s USING (doc_id)
            ),
            pairs AS (
              SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                     bit_count(xor(a.sh::UBIGINT, b.sh::UBIGINT))::INT AS hamming,
                     a.sh AS sa, b.sh AS sb
              FROM sh a JOIN sh b ON a.doc_id < b.doc_id
            )
            SELECT id_a, id_b, hamming FROM pairs
            WHERE hamming <= 8 AND (
                  ((sa >> 0)  & 65535) = ((sb >> 0)  & 65535) OR
                  ((sa >> 16) & 65535) = ((sb >> 16) & 65535) OR
                  ((sa >> 32) & 65535) = ((sb >> 32) & 65535) OR
                  ((sa >> 48) & 65535) = ((sb >> 48) & 65535))
        """,
        "langid": f"""
            WITH t AS (SELECT doc_id, {tok} AS toks FROM documents),
            sc AS (
              SELECT doc_id, unnest(['de','en','es','fr']) AS lang,
                     unnest([
                       len(list_filter(toks, x -> x IN ('der','die','das','und','ist','nicht','mit','ein','zu','den')))::DOUBLE / greatest(len(toks), 1),
                       len(list_filter(toks, x -> x IN ('the','and','of','to','in','is','that','it','was','for')))::DOUBLE / greatest(len(toks), 1),
                       len(list_filter(toks, x -> x IN ('el','la','los','de','que','y','en','un','una','es')))::DOUBLE / greatest(len(toks), 1),
                       len(list_filter(toks, x -> x IN ('le','la','les','de','des','et','en','un','une','est')))::DOUBLE / greatest(len(toks), 1)
                     ]) AS score
              FROM t
            ),
            best AS (
              SELECT doc_id, lang, score,
                     row_number() OVER (PARTITION BY doc_id
                                        ORDER BY score DESC, lang DESC) AS rn
              FROM sc
            )
            SELECT doc_id,
                   CASE WHEN score > 0.01 THEN lang ELSE 'unknown' END AS lang_pred,
                   round(score, 6) AS lang_score
            FROM best WHERE rn = 1
        """,
        "fingerprints": f"""
            -- winnowing restated gram-for-gram: 5-token k-grams, md5-60
            -- hashes, min per 4-window, distinct count; <5-token docs have
            -- no k-grams, <4 k-grams collapse to a single min
            WITH t AS (SELECT doc_id, {tok} AS toks FROM documents),
            kgrows AS (
              SELECT doc_id, i, array_to_string(toks[i:i+4], ' ') AS gram
              FROM t, unnest(range(1, len(toks) - 3)) AS u(i)
              WHERE len(toks) >= 5
            ),
            khrows AS (SELECT doc_id, i, {_hexint('gram')} AS h FROM kgrows),
            kh AS (SELECT doc_id, list(h ORDER BY i) AS kh FROM khrows GROUP BY doc_id),
            fp AS (
              SELECT d.doc_id,
                     CASE WHEN kh IS NULL OR len(kh) = 0 THEN []::BIGINT[]
                          WHEN len(kh) < 4 THEN [list_min(kh)]
                          ELSE [list_min(kh[i:i+3]) for i in range(1, len(kh)-2)]
                     END AS mins
              FROM documents d LEFT JOIN kh USING (doc_id)
            )
            SELECT doc_id, len(list_distinct(mins))::BIGINT AS n_fingerprints FROM fp
        """,
        "ann_lsh": f"""
            -- FULL LSH restatement: md5→Box-Muller hyperplanes (bit-identical
            -- to similarity._plane_weight), sign signatures, radius-1
            -- multiprobe of the query's buckets, exact-cosine re-rank. This
            -- checks the engine's real LSH semantics end-to-end in SQL.
            WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings),
            planes AS (
              SELECT t, b, d,
                     sqrt(-2 * ln(({_hexint("concat('lsh:',t,':',b,':',d,':u1')")} + 1)
                                  / 1152921504606846976.0)) *
                     cos(2 * pi() * ({_hexint("concat('lsh:',t,':',b,':',d,':u2')")}
                                  / 1152921504606846976.0)) AS w
              -- dim=64 across all testdata sf dirs (embeddings schema)
              FROM range(2) tt(t), range(8) bb(b), range(64) dd(d)
            ),
            dots AS (
              SELECT e.vec_id, p.t, p.b, sum(e.emb[p.d + 1] * p.w) AS dot
              FROM e, planes p GROUP BY e.vec_id, p.t, p.b
            ),
            sig AS (
              SELECT vec_id, t,
                     sum(CASE WHEN dot > 0 THEN (1::BIGINT << b) ELSE 0 END)::BIGINT AS signature
              FROM dots GROUP BY vec_id, t
            ),
            probes AS (
              SELECT t, signature FROM sig WHERE vec_id = 0
              UNION
              SELECT s.t, xor(s.signature::UBIGINT, (1::UBIGINT << f))::BIGINT
              FROM sig s, range(8) ff(f) WHERE s.vec_id = 0
            ),
            cand AS (
              SELECT DISTINCT s.vec_id
              FROM sig s JOIN probes p ON s.t = p.t AND s.signature = p.signature
            ),
            q AS (SELECT emb AS qv FROM e WHERE vec_id = 0),
            scored AS (
              SELECT e.vec_id,
                     list_dot_product(emb, qv) /
                     (sqrt(list_dot_product(qv, qv)) *
                      sqrt(list_dot_product(emb, emb))) AS cosine
              FROM e JOIN cand USING (vec_id) CROSS JOIN q
            )
            SELECT vec_id, round(cosine, 5) AS cosine FROM (
              SELECT vec_id, cosine FROM scored
              ORDER BY cosine DESC, vec_id ASC LIMIT 10
            )
        """,
    }
