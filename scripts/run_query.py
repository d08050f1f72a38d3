#!/usr/bin/env python
"""spark-submit entrypoint for top-k search against a built index:

    spark-submit --py-files rdf_indexer_spark.zip scripts/run_query.py \\
        --index-dir /data/index --query "block max wand" --k 10 --distributed

Prints one JSON line: {"query": ..., "hits": [[doc_id, score], ...]}.
"""

from __future__ import annotations

import argparse
import json
import sys


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument("--index-dir", required=True)
    ap.add_argument("--query", action="append", required=True,
                    help="repeatable; 2+ queries are served as ONE batch "
                         "job (IndexReader.search_many)")
    ap.add_argument("--k", type=int, default=10)
    ap.add_argument("--distributed", action=argparse.BooleanOptionalAction,
                    default=None,
                    help="force the executor-side route (per-bucket "
                         "applyInPandas + driver merge) on/off; default "
                         "auto-selects by the query's posting volume, "
                         "preferring distributed at scale")
    ap.add_argument("--exhaustive", action="store_true",
                    help="use the declarative DataFrame scorer instead")
    ap.add_argument("--phrase", action="store_true",
                    help="exact-phrase ranking (Lucene PhraseQuery slop 0);"
                         " requires an index built with positions=True")
    ap.add_argument("--lucene", action="store_true",
                    help="parse the query as a Lucene classic string "
                         "(+must -prohibited term^boost, \"phrases\"[~slop]"
                         " incl. -\"phrase\" exclusions, wild*cards, "
                         "fuzzy~N) and run the matching query")
    ap.add_argument("--slop", type=int, default=0,
                    help="with --phrase: ordered near-match within N "
                         "intervening positions (0 = exact)")
    ap.add_argument("--mm", type=int, default=0,
                    help="with --lucene (plain term clauses): Lucene "
                         "minimumNumberShouldMatch / Solr dismax mm")
    ap.add_argument("--explain", action="store_true",
                    help="don't search: print the planner-side debug for "
                         "the query (per-term df/idf/bytes, estimated "
                         "fetch volume, routing decision — Solr "
                         "debugQuery analog, one metadata scan)")
    ap.add_argument("--after", metavar="DOC:SCORE",
                    help="cursor deep paging (Solr cursorMark / Lucene "
                         "searchAfter): the previous page's last hit as "
                         "doc_id:score; returns the next k results "
                         "strictly after it")
    args = ap.parse_args(argv)
    after = None
    if args.after is not None:
        try:
            d, _, sc = args.after.partition(":")
            after = (int(d), float(sc))
        except ValueError:
            ap.error("--after must be doc_id:score (the previous page's "
                     "last hit)")
        if args.lucene or args.phrase or args.exhaustive:
            ap.error("--after pages the default search only (not "
                     "--lucene/--phrase/--exhaustive)")
        if len(args.query) > 1:
            ap.error("--after cannot be combined with multiple --query")
    if args.explain and (args.lucene or args.phrase or args.exhaustive
                         or args.after or args.distributed is not None
                         or len(args.query) > 1):
        ap.error("--explain takes one plain query and no other mode flags "
                 "(routing is part of what it reports, so it cannot be "
                 "combined with --distributed)")
    if args.slop and not args.phrase:
        ap.error("--slop requires --phrase (in --lucene use '\"...\"~N')")
    if args.mm and not args.lucene:
        ap.error("--mm requires --lucene")
    if args.lucene and (args.phrase or args.exhaustive):
        ap.error("--lucene cannot be combined with --phrase/--exhaustive "
                 "(the parser routes phrases itself)")
    if args.lucene and len(args.query) > 1:
        ap.error("--lucene cannot be combined with multiple --query")
    if args.phrase and (args.exhaustive or args.distributed is not None):
        ap.error("--phrase cannot be combined with --exhaustive/"
                 "--distributed (the phrase search routes itself)")
    if args.phrase and len(args.query) > 1:
        ap.error("--phrase cannot be combined with multiple --query")
    if len(args.query) > 1:
        # batch mode routes through search_many, which has no
        # exhaustive/driver-route variant — reject rather than silently
        # ignore the flags, and reject duplicate query strings (they would
        # collapse into one result set via the {q: q} query_id mapping)
        if args.exhaustive:
            ap.error("--exhaustive cannot be combined with multiple --query")
        if args.distributed is not None:
            ap.error("--distributed/--no-distributed cannot be combined "
                     "with multiple --query (batch mode is always "
                     "distributed)")
        dupes = {q for q in args.query if args.query.count(q) > 1}
        if dupes:
            ap.error(f"duplicate --query strings: {sorted(dupes)}")

    from pyspark.sql import SparkSession

    spark = SparkSession.getActiveSession()
    if spark is None:
        from rdf_indexer_spark.session import get_spark

        spark = get_spark(app_name="index-query")

    from rdf_indexer_spark.index.bm25 import IndexReader

    reader = IndexReader(spark, args.index_dir)
    if len(args.query) > 1:
        # query-set mode: the whole set in ONE distributed job
        out = reader.search_many(
            {q: q for q in args.query}, args.k
        ).collect()
        by_q: dict[str, list] = {q: [] for q in args.query}
        for r in sorted(out, key=lambda r: (r["query_id"], r["rank"])):
            by_q[r["query_id"]].append([int(r["doc_id"]), float(r["score"])])
        print(json.dumps({"queries": args.query, "k": args.k, "hits": by_q}))
        return 0
    query = args.query[0]
    if args.explain:
        print(json.dumps({"query": query,
                          **reader.explain_query(query)}))
        return 0
    if args.lucene:
        hits = reader.search_lucene(query, args.k,
                                    distributed=args.distributed,
                                    min_should_match=args.mm)
        print(json.dumps({
            "query": query, "k": args.k, "mode": "lucene",
            "hits": [[int(d), float(s)] for d, s in hits],
        }))
        return 0
    if args.phrase:
        hits = reader.search_phrase(query, args.k, slop=args.slop)
        print(json.dumps({
            "query": query, "k": args.k, "mode": "phrase",
            "hits": [[int(d), float(s)] for d, s in hits],
        }))
        return 0
    if args.exhaustive:
        hits = [(r["doc_id"], r["score"])
                for r in reader.score_exhaustive(query, args.k).collect()]
    else:
        # the engine's default path: auto-selects the executor-side route
        # unless the query's fetch volume makes the driver route a cheap
        # small-index fast path (bm25.IndexReader.search)
        hits = [(r["doc_id"], r["score"])
                for r in reader.search(query, args.k,
                                       distributed=args.distributed,
                                       after=after).collect()]
    print(json.dumps({
        "query": query,
        "k": args.k,
        "hits": [[int(d), float(s)] for d, s in hits],
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
