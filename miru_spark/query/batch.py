"""Batch query serving: N queries through ONE postings scan.

At serving scale the per-query cost floor is Spark job overhead, not
data. The reference amortizes differently (long-lived per-partition
readers + replica racing, ``MiruLowestLatencySolver``); the Spark-native
equivalent is batching: all queries' term predicates union into one
postings scan, scores group by (query_id, docint), and a window takes
each query's top-k — one shuffle + one window for the whole batch.

Supports the fused query class (AND/OR of text terms/prefixes, plus
AND-with-NOT — the shape of the reference query set) and, via per-query
``opts``, the DisjunctionMax (``{"tie": t}``) and minimum-should-match
(``{"min_should_match": m}``) scoring variants — both ride the same
shared scan (dismax adds a max to the aggregation, msm raises the
presence threshold). Doc-metadata conjuncts (role:/tool:/ranges/authz
and their negations) peel off the text subtree exactly like the
single-query plan: ONE shared docs scan evaluates every masked query's
predicate and the (qid, docint) pairs filter the post-agg relation.

Phrases batch too (positions-bearing index): each phrase's
(term, offset) leaves join ONE shared positions scan. For EXACT
phrases, a phrase occurrence at start s puts leaf i at position s+i,
so exploding the shift-normalized positions and counting distinct
leaves per (qid, docint, start) finds occurrences for every phrase in
the batch in one groupBy — the batched twin of ``phrase_match_docs``'s
array-intersect chain. ORDERED PROXIMITY (``"a b"~N``) rides the same
scan: each candidate (qid, docint) collects its offset-sorted position
legs and evaluates the greedy ordered chain of
``phrase.proximity_match_docs`` as one ``F.aggregate`` fold — all
JVM-side, one extra groupBy for the whole batch's slop queries.
Scoring rides the same scan (member terms score as ordinary leaves,
``search_phrase`` parity), and doc-metadata conjuncts on a phrase ride
the same shared mask docs scan as fused queries' masks.

OR-over-metadata (``text OR role:assistant``) batches as well: the
text disjuncts ride the shared postings scan as an ordinary OR and the
metadata disjuncts ride the shared mask docs scan, whose (qid, docint)
pairs UNION IN as 0.0-scored candidates (tree-plan ``scored_matches``
parity: docs matched only by metadata score 0). Anything else
(non-flat mixed boolean trees, metadata fields the docs relation does
not carry) falls back to the single-query engine.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from miru_spark.index import InvertedIndex
from miru_spark.query.ast import Phrase, Prefix, Term
from miru_spark.query.bm25 import (
    _fusable,
    _fusable_not,
    _meta_fields_known,
    _peel_meta_conjuncts,
    bm25_contrib,
    idf_col,
    msm_clauses,
    search,
    search_dismax,
    search_min_should_match,
)
from miru_spark.query.parser import parse_query
from miru_spark.session import local_df


def _mask_docs_pairs(
    index, mask_specs: dict, or_specs: dict
) -> DataFrame | None:
    """(qid, docint) pairs from ONE docs scan, for every
    metadata-bearing query in the batch: an AND-mask qid (``mask_specs``
    — doc-metadata conjuncts peeled off a fused/phrase query) emits the
    docs satisfying its full conjunction; an OR-meta qid (``or_specs``
    — metadata disjuncts of an OR-over-metadata query) emits the docs
    satisfying ANY of its disjuncts. The single relation is consumed by
    one join in ``search_batch`` (AND pairs filter, OR pairs union in
    as 0.0-score candidates), so the docs scan runs exactly once per
    batch regardless of how many blocks carry masks."""
    if not mask_specs and not or_specs:
        return None
    from miru_spark.query.filters import _meta_pred

    def _and_pred(pos_meta, neg_meta):
        pred = F.lit(True)
        for l in pos_meta:
            pred = pred & _meta_pred(l)
        for l in neg_meta:
            pred = pred & ~F.coalesce(_meta_pred(l), F.lit(False))
        return pred

    def _or_pred(leaves):
        pred = F.lit(False)
        for l in leaves:
            pred = pred | F.coalesce(_meta_pred(l), F.lit(False))
        return pred

    whens = [
        F.when(_and_pred(pm, nm), F.lit(q))
        for q, (pm, nm) in sorted(mask_specs.items())
    ] + [
        F.when(_or_pred(ls), F.lit(q)) for q, ls in sorted(or_specs.items())
    ]
    qid_arr = F.array_compact(F.array(*whens))
    return index.docs.select("docint", F.explode(qid_arr).alias("qid"))


def _or_meta_split(node) -> tuple[list, list] | None:
    """``Or(text leaves…, doc-meta leaves…)`` → (text_leaves,
    meta_leaves) with ≥ 1 meta leaf, else None — the OR-over-metadata
    query class. Semantics (tree-plan ``scored_matches`` parity):
    matched = text-OR ∪ metadata-any; score = BM25 over the query's
    text terms, 0.0 for docs matched only by metadata."""
    from miru_spark.query.ast import Or
    from miru_spark.query.bm25 import _flat_children, _is_doc_meta_leaf

    if not isinstance(node, Or):
        return None
    text: list = []
    meta: list = []
    for c in _flat_children(node, Or):
        if isinstance(c, (Term, Prefix)) and c.field == "text":
            text.append(c)
        elif _is_doc_meta_leaf(c):
            meta.append(c)
        else:
            return None
    if not meta:
        return None
    return text, meta


def search_batch(
    index: InvertedIndex,
    queries: list[tuple],
) -> DataFrame:
    """``[(query_id, query_string, k[, opts])]`` → rows
    (query_id, conv_id, turn_idx, docint, score, rank).

    ``opts`` (optional dict) selects a scoring variant for that query:

    - ``{"tie": t}`` — DisjunctionMax with tie-breaker ``t``
      (:func:`miru_spark.query.bm25.search_dismax` parity);
    - ``{"min_should_match": m}`` — m-of-n SHOULD matching
      (:func:`miru_spark.query.bm25.search_min_should_match` parity;
      clause counting via the shared :func:`bm25.msm_clauses`, so
      synonym/multiterm OR-groups count as ONE clause).

    Results per query are identical to the corresponding single-query
    function (rank = 1..k in (score desc, docint desc) order). All
    variants ride the same ONE postings scan: dismax adds a per-group
    max to the shared aggregation, msm raises the presence threshold —
    neither costs an extra scan or shuffle.
    """
    spark = index.postings.sparkSession
    # (qid, leaf_id, kind, value, boost, mode, required, k, neg, tie)
    fused_rows = []
    # (qid, off, term, boost, k, n_leaves) — exact-phrase leaves
    phrase_rows: list[tuple] = []
    fallback: list[tuple[str, str, int, dict]] = []
    from miru_spark.query.filters import expand_multiterm

    # qid -> (pos_meta, neg_meta) doc-mask conjuncts peeled off fused
    # queries (bm25._peel_meta_conjuncts): evaluated in ONE shared docs
    # scan and applied as a (qid, docint) join after the aggregation
    mask_specs: dict[str, tuple[list, list]] = {}
    # qid -> metadata disjuncts of OR-over-metadata queries (share the
    # same docs scan; their pairs union in as 0.0-score candidates)
    or_specs: dict[str, list] = {}
    or_k: dict[str, int] = {}
    for item in queries:
        qid, qs, k = item[0], item[1], item[2]
        opts = item[3] if len(item) > 3 else {}
        tie = opts.get("tie")
        msm = opts.get("min_should_match")
        if tie is not None and msm is not None:
            raise ValueError(f"{qid}: tie and min_should_match are exclusive")
        # the MultiTermQuery rewrite makes wildcard/fuzzy queries
        # fusable into the shared scan instead of falling back
        node = expand_multiterm(index, parse_query(qs, index.analyzer))

        if msm is not None:
            # mirror search_min_should_match exactly: no metadata peel
            # (the single-query path rejects meta conjuncts), clause
            # grouping via the shared collector, presence counted per
            # CLAUSE (leaf_id = clause id, so an OR-group's members
            # share one id and a term in several clauses counts each)
            clauses = msm_clauses(node)
            if not clauses:
                raise ValueError(
                    f"{qid}: min_should_match needs an OR/AND of text clauses"
                )
            for ci, cl in enumerate(clauses):
                lb: dict[tuple[bool, str], float] = {}
                for l in cl:
                    key = (isinstance(l, Prefix), l.value)
                    lb[key] = max(lb.get(key, 0.0), l.boost)
                for (is_pref, val), boost in sorted(lb.items()):
                    fused_rows.append(
                        (qid, ci, "prefix" if is_pref else "term", val,
                         boost, "msm", int(msm), k, False, None)
                    )
            continue

        sub, pos_meta, neg_meta = _peel_meta_conjuncts(node)
        if (
            isinstance(sub, Phrase)
            and len(sub.values) >= 2
            and tie is None
            and "positions" in index.postings.columns
            and (
                not (pos_meta or neg_meta)
                or _meta_fields_known(index, [*pos_meta, *neg_meta])
            )
        ):
            # phrase (exact OR ordered-proximity "a b"~N) → shared
            # positional scan (see module doc); leaf per (term, offset)
            # occurrence in the phrase. Doc-metadata conjuncts ride the
            # SAME shared mask docs scan as fused queries' masks.
            if pos_meta or neg_meta:
                mask_specs[qid] = (pos_meta, neg_meta)
            for off, val in enumerate(sub.values):
                phrase_rows.append(
                    (qid, off, val, float(sub.boost), k,
                     len(sub.values), int(sub.slop))
                )
            continue
        if sub is None or (
            (pos_meta or neg_meta)
            and not _meta_fields_known(index, [*pos_meta, *neg_meta])
        ):
            fallback.append((qid, qs, k, opts))
            continue
        f = _fusable(sub)
        neg_leaves: list = []
        if f is None:
            # AND-with-NOT joins the shared scan too: negated terms ride
            # as weightless presence rows (see bm25._fusable_not)
            fn = _fusable_not(sub)
            if fn is None or tie is not None:
                # OR-over-metadata: text disjuncts ride the shared scan
                # as an ordinary OR; metadata disjuncts ride the shared
                # mask docs scan and union in as 0.0-score candidates
                om = None
                if tie is None and not (pos_meta or neg_meta):
                    om = _or_meta_split(sub)
                if om is not None and _meta_fields_known(index, om[1]):
                    text_leaves, meta_leaves = om
                    or_specs[qid] = meta_leaves
                    or_k[qid] = k
                    lb = {}
                    for l in text_leaves:
                        key = (isinstance(l, Prefix), l.value)
                        lb[key] = max(lb.get(key, 0.0), l.boost)
                    for i, ((is_pref, val), boost) in enumerate(
                        sorted(lb.items())
                    ):
                        fused_rows.append(
                            (qid, i, "prefix" if is_pref else "term",
                             val, boost, "or", 1, k, False, None)
                        )
                    continue
                fallback.append((qid, qs, k, opts))
                continue
            f, neg_leaves = ("and", fn[0]), fn[1]
        if tie is not None and f[0] == "and" and len(f[1]) > 1:
            # DisjunctionMax is inherently disjunctive — same rejection
            # as search_dismax (an AND must not score with OR matching)
            raise ValueError(f"{qid}: dismax needs a fusable OR text query")
        if pos_meta or neg_meta:
            mask_specs[qid] = (pos_meta, neg_meta)
        mode, leaves = f
        required_mode = "or" if tie is not None else mode
        # dedupe leaves by (kind, value) — same AND-presence semantics as
        # the single-query path; identical leaves at different '^B'
        # boosts collapse to one presence leaf at the MAX boost (a term
        # matched by several leaves takes the max weight, mirroring
        # bm25._query_term_weights)
        lb = {}
        for l in leaves:
            key = (isinstance(l, Prefix), l.value)
            lb[key] = max(lb.get(key, 0.0), l.boost)
        seen = sorted(lb.items())
        required = len(seen) if required_mode == "and" else 1
        for i, ((is_pref, val), boost) in enumerate(seen):
            fused_rows.append(
                (
                    qid,
                    i,
                    "prefix" if is_pref else "term",
                    val,
                    boost,
                    required_mode,
                    required,
                    k,
                    False,
                    float(tie) if tie is not None else None,
                )
            )
        # negated leaves: distinct leaf_ids past the positives (they are
        # excluded from the AND-presence count), boost irrelevant (their
        # rows never score)
        negset = sorted({(isinstance(l, Prefix), l.value) for l in neg_leaves})
        for j, (is_pref, val) in enumerate(negset):
            fused_rows.append(
                (
                    qid,
                    len(seen) + j,
                    "prefix" if is_pref else "term",
                    val,
                    1.0,
                    required_mode,
                    required,
                    k,
                    True,
                    None,
                )
            )

    parts: list[DataFrame] = []
    # scored-but-unranked relations (qid, docint, score, _k) from the
    # fused and phrase blocks — masked/tombstoned/ranked together below
    pre_rank: list[DataFrame] = []
    if fused_rows:
        leaves_df = local_df(
            spark,
            fused_rows,
            "qid string, leaf_id int, kind string, value string, "
            "boost double, mode string, required int, k int, "
            "neg boolean, tie double",
        )
        # resolve leaves → concrete terms (prefix expansion via the
        # term-stats table, exact via equi-join)
        exact = leaves_df.where(F.col("kind") == "term").withColumnRenamed(
            "value", "term"
        )
        pref = leaves_df.where(F.col("kind") == "prefix")
        terms_tbl = index.terms.select(
            "term", idf_col(F.col("df"), index.n_docs).alias("idf")
        )
        resolved = exact.join(terms_tbl, "term", "inner")
        if any(r[2] == "prefix" for r in fused_rows):
            expanded = pref.join(
                terms_tbl,
                terms_tbl["term"].startswith(pref["value"]),
                "inner",
            ).drop("value")
            resolved = resolved.unionByName(expanded)
        # a term matched by SEVERAL leaves of one query (e.g. exact
        # 'w00001' plus overlapping prefix 'w0000*') must contribute its
        # BM25 weight exactly ONCE — the per-leaf rows exist only for the
        # count_distinct(leaf_id) AND-presence check. Mark one scoring
        # row per (qid, term), choosing the leaf with the MAX boosted
        # weight (parity with bm25._query_term_weights); the window runs
        # over the tiny driver-built leaf table, before the postings join.
        resolved = resolved.withColumn("w", F.col("idf") * F.col("boost"))
        # positive rows outrank negated ones for the scoring slot — a
        # term that is both positive and negated in one query must still
        # contribute its weight (the neg flag then disqualifies the doc)
        wlr = Window.partitionBy("qid", "term").orderBy(
            F.asc("neg"), F.desc("w"), F.asc("leaf_id")
        )
        resolved = F.broadcast(
            resolved.withColumn("_lr", F.row_number().over(wlr)).select(
                "qid", "leaf_id", "term", "w", "mode", "required", "k",
                "neg", "tie", "_lr",
            )
        )
        # push a coarse term predicate into the postings SCAN: every
        # leaf value is a driver-side literal, so the union of exact
        # terms (In) and prefixes (StringStartsWith — parquet pushes
        # both) prunes row groups before the broadcast join refines
        # per-query. Without this the batch pays a FULL postings scan.
        exact_vals = sorted({r[3] for r in fused_rows if r[2] == "term"})
        pref_vals = sorted({r[3] for r in fused_rows if r[2] == "prefix"})
        scan_pred = None
        if exact_vals:
            scan_pred = F.col("term").isin(exact_vals)
        for p in pref_vals:
            sp = F.col("term").startswith(p)
            scan_pred = sp if scan_pred is None else (scan_pred | sp)
        postings = index.postings.where(scan_pred)
        hits = (
            postings.join(resolved, "term")
            .withColumn(
                "contrib",
                F.when((F.col("_lr") == 1) & (~F.col("neg")),
                       bm25_contrib(
                           F.col("tf").cast("double"),
                           F.col("w"),
                           F.col("doclen").cast("double"),
                           index.avg_doclen,
                       )).otherwise(F.lit(0.0)),
            )
        )
        scored = (
            hits.groupBy("qid", "docint")
            .agg(
                F.sum("contrib").alias("_sum"),
                F.max("contrib").alias("_mx"),
                F.count_distinct(
                    F.when(~F.col("neg"), F.col("leaf_id"))
                ).alias("_nl"),
                F.max(F.when(F.col("neg"), 1).otherwise(0)).alias("_ng"),
                F.first("required").alias("_need"),
                F.first("k").alias("_k"),
                F.first("tie").alias("_tie"),
            )
            # one HAVING for every mode: AND sets required = n_leaves
            # (count can't exceed it, so >= is ==), OR sets 1, msm m
            .where((F.col("_nl") >= F.col("_need")) & (F.col("_ng") == 0))
            .withColumn(
                "score",
                F.when(
                    F.col("_tie").isNotNull(),
                    # DisjunctionMax: best clause + tie x the rest
                    F.col("_mx")
                    + F.col("_tie") * (F.col("_sum") - F.col("_mx")),
                ).otherwise(F.col("_sum")),
            )
        )
        pre_rank.append(scored.select("qid", "docint", "score", "_k"))

    if phrase_rows:
        pl = local_df(
            spark,
            phrase_rows,
            "qid string, off int, term string, boost double, k int, "
            "n_leaves int, slop int",
        )
        # resolve member terms against the term-stats table (idf), pick
        # ONE scoring row per (qid, term) — a term repeated at several
        # phrase offsets scores once (search_phrase parity: distinct
        # member terms), lowest offset wins deterministically
        terms_tbl = index.terms.select(
            "term", idf_col(F.col("df"), index.n_docs).alias("idf")
        )
        wpr = Window.partitionBy("qid", "term").orderBy(F.asc("off"))
        plw = F.broadcast(
            pl.join(terms_tbl, "term")
            .withColumn("_lr", F.row_number().over(wpr))
            .withColumn("w", F.col("idf") * F.col("boost"))
        )
        # ONE positions-bearing postings scan with the union term
        # predicate pushed (In(term, …) → parquet row-group pruning)
        terms_needed = sorted({r[2] for r in phrase_rows})
        pscan = index.postings.where(F.col("term").isin(terms_needed))
        pj = pscan.join(plw, "term")
        # occurrence check for EXACT phrases: leaf i of a phrase
        # occurrence starting at s sits at position s+i, so
        # shift-normalized starts that carry ALL leaves are occurrences
        # — one groupBy for every exact phrase
        occ = (
            pj.where(F.col("slop") == 0)
            .select(
                "qid",
                "docint",
                "off",
                "n_leaves",
                F.explode("positions").alias("p"),
            )
            .withColumn("start", F.col("p") - F.col("off"))
        )
        matched = (
            occ.groupBy("qid", "docint", "start")
            .agg(
                F.count_distinct("off").alias("_no"),
                F.first("n_leaves").alias("_need"),
            )
            .where(F.col("_no") == F.col("_need"))
            .select("qid", "docint")
            .distinct()
        )
        if any(r[6] > 0 for r in phrase_rows):
            # ordered proximity ("a b"~N): per candidate (qid, docint),
            # collect the offset-sorted position legs and run the SAME
            # greedy ordered chain as phrase.proximity_match_docs — an
            # F.aggregate fold of _advance over the legs, entirely
            # JVM-side; window = n_leaves - 1 + slop
            from miru_spark.query.phrase import _advance

            legs = (
                pj.where(F.col("slop") > 0)
                .select(
                    "qid", "docint", "off", "n_leaves", "slop", "positions"
                )
                .groupBy("qid", "docint")
                .agg(
                    F.sort_array(
                        F.collect_list(F.struct("off", "positions"))
                    ).alias("legs"),
                    F.first("n_leaves").alias("_need"),
                    F.first("slop").alias("_slop"),
                )
                # every offset present (one pj row per (qid, off, docint))
                .where(F.size("legs") == F.col("_need"))
            )
            carry0 = F.transform(
                F.element_at("legs", 1)["positions"],
                lambda p: F.struct(p.alias("start"), p.alias("cur")),
            )
            chain = F.aggregate(
                F.expr("slice(legs, 2, size(legs) - 1)"),
                carry0,
                lambda acc, leg: _advance(acc, leg["positions"]),
            )
            window_sz = F.col("_need") - 1 + F.col("_slop")
            prox_matched = legs.where(
                F.exists(
                    chain, lambda s: s["cur"] - s["start"] <= window_sz
                )
            ).select("qid", "docint")
            matched = matched.unionByName(prox_matched)
        scored_p = (
            pj.where(F.col("_lr") == 1)
            .withColumn(
                "contrib",
                bm25_contrib(
                    F.col("tf").cast("double"),
                    F.col("w"),
                    F.col("doclen").cast("double"),
                    index.avg_doclen,
                ),
            )
            .groupBy("qid", "docint")
            .agg(F.sum("contrib").alias("score"), F.first("k").alias("_k"))
            # hash build on the match set (docs containing the phrase —
            # small next to the scored term-match relation)
            .join(matched.hint("shuffle_hash"), ["qid", "docint"], "left_semi")
        )
        pre_rank.append(scored_p.select("qid", "docint", "score", "_k"))

    if pre_rank or or_specs:
        # Masks, tombstones and the top-k window run ONCE over the
        # union of the fused and phrase scored relations (qids are
        # disjoint across blocks), so a batch mixing masked fused AND
        # masked phrase queries still evaluates the mask docs scan a
        # single time — the documented ONE-docs-scan contract — instead
        # of once per block.
        if pre_rank:
            all_scored = pre_rank[0]
            for p in pre_rank[1:]:
                all_scored = all_scored.unionByName(p)
        else:  # pure-metadata OR queries only
            all_scored = local_df(
                spark,
                [], "qid string, docint long, score double, _k int"
            )
        mask_pairs = _mask_docs_pairs(index, mask_specs, or_specs)
        if mask_pairs is not None:
            # ONE join consumes the single mask-pairs relation for both
            # mask classes: an AND-masked qid keeps only rows present
            # on BOTH sides; an OR-meta qid keeps either side (pairs
            # without a scored row become 0.0-score candidates); every
            # other qid keeps its scored rows untouched.
            and_qids = sorted(mask_specs)
            or_qids = sorted(or_specs)
            join_type = "full_outer" if or_specs else "left"
            j = all_scored.join(
                mask_pairs.withColumn("_mp", F.lit(1)),
                ["qid", "docint"],
                join_type,
            )
            is_and = F.col("qid").isin(and_qids) if and_qids else F.lit(False)
            is_or = F.col("qid").isin(or_qids) if or_qids else F.lit(False)
            keep = (
                F.when(
                    is_and,
                    F.col("score").isNotNull() & F.col("_mp").isNotNull(),
                )
                .when(is_or, F.lit(True))
                .otherwise(F.col("score").isNotNull())
            )
            all_scored = (
                j.where(keep)
                .withColumn("score", F.coalesce(F.col("score"), F.lit(0.0)))
                .drop("_mp")
            )
            if or_k:
                kmap = F.create_map(
                    *[
                        l
                        for q, kk in sorted(or_k.items())
                        for l in (F.lit(q), F.lit(kk))
                    ]
                )
                all_scored = all_scored.withColumn(
                    "_k", F.coalesce(F.col("_k"), kmap[F.col("qid")])
                )
        if index.tombstones is not None:
            all_scored = all_scored.join(
                index.tombstones.select("docint"), "docint", "left_anti"
            )
        w = Window.partitionBy("qid").orderBy(F.desc("score"), F.desc("docint"))
        parts.append(
            all_scored.withColumn("rank", F.row_number().over(w))
            .where(F.col("rank") <= F.col("_k"))
            .select("qid", "docint", "score", "rank")
        )

    for qid, qs, k, opts in fallback:
        # rank the k already-limited rows in one Arrow batch — an
        # unpartitioned window would warn per execution, and a constant
        # partition key gets folded back to the empty spec
        from miru_spark.ranking import rank_small

        if opts.get("tie") is not None:
            res = search_dismax(index, qs, tie_breaker=opts["tie"], k=k)
        elif opts.get("min_should_match") is not None:
            res = search_min_should_match(
                index, qs, m=opts["min_should_match"], k=k
            )
        else:
            res = search(index, qs, k=k)
        one = rank_small(
            res.select(F.lit(qid).alias("qid"), "docint", "score"),
            [("score", "desc"), ("docint", "desc")],
        ).select("qid", "docint", "score", "rank")
        parts.append(one)

    if not parts:
        raise ValueError("no queries")
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    meta = index.docs.select("docint", "conv_id", "turn_idx")
    return (
        # the union of per-query top-ks is ≤ Σ k rows — broadcast it
        # against the docs scan instead of shuffling the metadata side
        F.broadcast(out).join(meta, "docint")
        .select(
            F.col("qid").alias("query_id"),
            "conv_id",
            "turn_idx",
            "docint",
            "score",
            "rank",
        )
        .orderBy("query_id", "rank")
    )
