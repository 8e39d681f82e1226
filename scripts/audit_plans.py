"""Plan hygiene audit over every declared query — FULL lineage.

Two defect classes, both scale-killers at 100 TB:

1. **Duplicated Python stages** — re-executed MapInPandas /
   ArrowEvalPython / FlatMapGroupsInPandas over the same lineage (the
   class fixed in round 3 for ingest_e2e, lsh_bands and the IVF
   assignment: a doubled Arrow pass is a doubled full-table scan).
2. **Red-flag physical operators** —
   - ``CartesianProduct`` / ``BroadcastNestedLoopJoin`` (all-pairs:
     O(N·M) row touches; only legitimate for a broadcast-tiny side
     under an inequality predicate, which none of our plans needs),
   - ``BatchEvalPython`` (row-at-a-time Python UDF — the 10-100×-slow
     path; every Python kernel here must be Arrow-batched),
   - unlimited global ``Sort`` as the TOP operator (a full-data sort;
     pagination must plan as TakeOrderedAndProject; sorts under joins/
     windows/partitioned writes are fine and not flagged).

Both checks cover the FULL lineage, not just the final plan (round-5
VERDICT #1): ``localCheckpoint`` truncates lineage, so kernels executed
before a stage boundary used to vanish from the audited plan. The audit
now runs with ``SPARK_GRAFT_AUDIT=1``; ``checkpointing.stage_checkpoint``
records each boundary's pre-checkpoint physical plan, and every recorded
fragment is audited with the same rules. Each fragment materializes
exactly once, so the duplicated-Arrow contract applies PER FRAGMENT
(the same kernel in two fragments is two iteration rounds, not a
re-execution); the top-level-sort rule applies only to the final plan
(fragment ordering is internal). Queries with fragments print a
``LINEAGE`` line with their whole-lineage kernel count.

Exits non-zero when a query exceeds its allowance.

Usage: python scripts/audit_plans.py [sf_dir]
"""

from __future__ import annotations

import pathlib
import re
import sys

sys.path.insert(0, str(pathlib.Path(__file__).resolve().parents[1]))

import os  # noqa: E402

os.environ["SPARK_GRAFT_AUDIT"] = "1"  # before any query builds

import __spark_entry__ as entrymod  # noqa: E402
from beis_orp_data_service_spark import checkpointing as _ck  # noqa: E402
from beis_orp_data_service_spark.session import get_spark  # noqa: E402

# Queries with a legitimate >1 Arrow-stage plan: one stage per JOIN SIDE
# (table assignment + query probe) is the minimum for the IVF family.
ALLOW_ARROW = {"ann_ivf_cells": 2, "ann_ivf_topk": 2, "ann_topk": 2, "ann_index_probe": 2,
               # probe batch = union(odd half, planted rows): the signing
               # projection pushes through the Union, one Arrow node per
               # branch — every row still signed exactly once.  The
               # compacted variant probes the identical batch.
               "lsh_index_probe": 2,
               "lsh_index_compact_probe": 2,
               # trained-PQ lifecycle: ONE encode pass (pq_codes) chained
               # into ONE stored-codes ADC scoring pass — two sequential
               # kernels, every row visits each exactly once (production
               # materializes codes between them; the declared query
               # exercises the chain end-to-end).
               "pq_adc_lifecycle": 2,
               "ann_ivfpq_cells": 2,
               "ann_ivfpq_index_cells": 2,
               "ann_index_cells": 2,
               # OPQ chain: ONE rotation pass into ONE PQ encode pass —
               # every row visits each kernel exactly once.
               "pq_opq_cells": 2,
               # tokenizer capstone: FOUR encode kernels (char-BPE
               # count, byte-BPE count, unigram Viterbi, WordPiece
               # longest-match) — disjoint branches of the union,
               # every row crosses exactly one
               "tokenizer_compare": 4,
               # encode corpus = union(base docs, accented twins): the
               # count projection pushes through the Union, one Arrow
               # node per branch — every row still encoded exactly once
               "bpe_bytes_encode": 2,
               }

# Per-FRAGMENT Arrow allowances for checkpoint-hidden lineage (each
# fragment runs once; >1 Arrow node inside one fragment means the same
# rows cross Arrow twice in one materialization). Default 1.
FRAGMENT_ALLOW = {
    # the kNN edge build joins IVF cell assignments of BOTH sides
    # (one MapInPandas each) into the per-cell cogrouped Gram kernel —
    # three kernels, every vector crosses each exactly once
    "emb_clusters_cells": 3,
    # the "signed" stage boundary chains FIVE DISTINCT kernels — the
    # minhash signature pass plus the four enrichment model fakes
    # (title-gen+postprocess, keywords, summary, lang-id), verified
    # distinct by node inspection: _sig/_lang/_sum/_kw/_pp(_gen(...)).
    # Each row crosses each kernel exactly once; a 6th stage would
    # mean a genuine re-execution.
    "ingest_e2e": 5,
    # the recall table's candidate union materializes ONCE (the
    # ann_recall:cand boundary — two consumers above it): its one
    # fragment carries all the arms' kernels — 3 kmeans-IVF arms x
    # (table-assign + query-probe) + the fused PQ/ADC kernel — each an
    # independent operating point crossed exactly once per vector
    "ann_recall_report": 8,
    # UNION-branch shapes (disjoint row sets, one Arrow crossing per
    # row per branch — verified by reading the fragment plans): the
    # "stripped" boundary unions the real docs (full-text _strip)
    # with the planted malformed-title twins (doc_id%20 prefix-40
    # _strip, ids offset +10M); the bundled variant adds a third tiny
    # ExistingRDD fixture branch, also stripped once.
    "title_preprocess": 2,
    "title_preprocess_bundled": 3,
    # featurize boundary = corpus sample UNION 3 planted near-dup
    # probes; each branch runs the split+NGram+TF+_sparse_indices
    # chain over its OWN rows exactly once.
    "minhash_lsh_pairs": 2,
}

RED_FLAGS = ("CartesianProduct", "BroadcastNestedLoopJoin", "BatchEvalPython")

# BroadcastNestedLoopJoin is legitimate ONLY for a theta-join whose
# broadcast side is guaranteed tiny; every allowance names that side.
# A NEW query acquiring a BNLJ fails the audit until justified here.
ALLOW_BNLJ = {
    "lo_match",      # broadcast needle list (5 phrases), contains() predicate
    "dti_rank",      # broadcast rulebook (3 rules), contains() predicate
    "dti_web_rank",  # broadcast doc-type mapping (11 rows), array_contains()
    "cos_sim",       # broadcast signature pairs, != self predicate
    "dup_classify",  # broadcast candidate set, theta dup-rule predicate
    "ann_topk",      # broadcast query vectors (10), != self predicate
    "ann_recall_report",  # same: broadcast 20 query vectors, != self (both exact ground truths)
    "hard_negatives",  # broadcast query vectors (10), label-mismatch predicate
    "lo_join",       # broadcast legislation dim, theta title-match
    "q_tpch11",      # 1-row scalar-aggregate subquery (HAVING threshold)
    "bm25_topk",     # 1-row corpus-stats aggregate crossJoined (broadcast)
    "unigram_scores",  # 1-row vocab-total aggregate crossJoined (broadcast)
    "unigram_em_round",  # same 1-row recount-total broadcast crossJoin
    "unigram_train",  # same 1-row kept-total broadcast crossJoin per round
    "tokenizer_compare",  # three 1-row total/chars broadcast crossJoins
    "tokenizer_sweep",  # same 1-row recount-total / chars broadcast crossJoins
    "search_rerank", # same bm25 1-row stats broadcast inside the candidate stage
    # |A|x|B| marginal cross join. CARDINALITY ASSUMPTION: both sides are
    # CATEGORY marginals (langs x sources, ~10x20 here); reusing this
    # exemption for a high-cardinality pair (users, documents, ...) is
    # wrong — such a contingency table needs an equi-join on cell keys.
    "chi2_lang_source",
    "top_terms_by_source",  # 1-row average-tokens-per-group aggregate crossJoined
    "lm_perplexity", # 1-row vocab-size aggregate crossJoined (broadcast)
    "token_kl",      # 1-row corpus-total aggregate crossJoined (broadcast)
    "heavy_hitters", # 1-row total-token-count aggregate crossJoined (broadcast)
    "temperature_mixture",  # 1-row sum-of-weights aggregate crossJoined (broadcast)
    "ks_drift",      # 1-row (n_a, n_b) totals aggregate crossJoined (broadcast)
    "ks_two_pass",   # same 1-row totals crossJoin (the two_pass spelling)
    "mannwhitney_ab",  # 1-row totals + 1-row rank-sum aggregates crossJoined
    "mw_two_pass",   # same 1-row totals crossJoins (the two_pass spelling)
    "ccnet_buckets",  # lm_perplexity's 1-row vocab-size crossJoin, inherited
    "train_mix",     # same inherited 1-row vocab-size crossJoin (ccnet composition)
    "ccnet_two_pass",  # same inherited 1-row vocab-size crossJoin (two_pass spelling)
    "train_mix_two_pass",  # same inherited 1-row vocab-size crossJoin (two_pass spelling)
    "budget_mix",      # same inherited 1-row vocab-size crossJoin (ccnet composition)
    "budget_mix_two_pass",  # same inherited 1-row vocab-size crossJoin (two_pass spelling)
    "pretrain_corpus",  # same inherited 1-row vocab-size crossJoin (ccnet composition)
    "cuped_ab",      # 1-row global-moments aggregate crossJoined (broadcast)
    "srm_check",     # 1-row total-units aggregate crossJoined (broadcast)
    "tfidf_vectors", # 1-row n_docs aggregate crossJoined (broadcast)
    "q_tpch22",      # 1-row scalar-aggregate subquery (avg balance)
    "dsir_weights",  # 1-row normalization-constant subquery
    "join_size_cms",  # 1-row sketch-estimate x 1-row exact-sum crossJoin
    "hll_audience_overlap",  # four 1-row aggregates (3 estimates + exact) crossJoined
    "theta_overlap",  # 1-row theta thresholds x set-op row x exact counts crossJoined
    # vocab x class-totals smoothing matrix: the broadcast side is ONE
    # ROW PER CLASS (|C| ~ a handful; the other side is vocabulary-
    # bounded, never corpus-bounded). Same category-marginal caveat as
    # chi2_lang_source: do not reuse for a high-cardinality pair.
    "nb_lang_score",
    "nb_confusion",  # same plan grouped: inherits nb_lang_score's matrix
    # candidate-pool pairwise sims: both sides are the SAME top-`pool`
    # slice (20 rows, parameter-bounded) — the corpus never enters the
    # nested loop; plus the broadcast single-query topk join.
    "mmr_rerank",
    # 1-row min-loss + 1-row normalizer aggregates crossJoined onto the
    # category-sized domain table (broadcast)
    "doremi_weights",
}


# Queries whose PLAN legitimately contains a Window with NO partition
# spec (single-partition execution — fine only when the frame feeding
# it is provably bounded). Every entry names its bound; a NEW query
# acquiring a global window fails the audit until justified here. This
# closes the gap between the AST gate (tests/test_window_scale.py,
# which inspects package SOURCE) and the plan gate: a plan-level global
# window reaching a declared query is now caught mechanically.
ALLOW_GLOBAL_WINDOW: dict[str, str] = {
    # rank window over the reranked orderBy().limit(k) page, ≤ k rows
    # (ranking.py rerank_topk 'Window scale' marker)
    "search_rerank": "row_number over a limit(k) reranked page",
    # planted-violation fixture: window over an orderBy().limit(3)
    # result (declared.py dq_report_q inline marker)
    "dq_report": "row_number over a 3-row limit() fixture",
    # rank window on the limit(k+1) threshold probe, ≤ k+1 rows
    # (corpus.py priority_sample 'Window scale' marker)
    "priority_sample": "rank over limit(k+1) threshold rows",
    # quantile read-off over a bottom-k sketch, ≤ k rows total
    # (corpus.py sketch_quantiles 'Window scale' marker)
    "quantile_sketch": "rank over a k-row bottom-k sketch",
    # one-pass CDF spellings over the DISTINCT-VALUE table (value-
    # domain-bounded, not corpus-bounded); the corpus-scale route is
    # the two_pass twin (ks_two_pass / mw_two_pass, grouped_prefix_sums
    # with no group columns)
    "ks_drift": "cum-sum over distinct metric values; twin: ks_two_pass",
    "mannwhitney_ab": "rank-sum over distinct values; twin: mw_two_pass",
    # one-pass ntile over the per-user frame — the documented small-
    # frame/oracle-parity spelling; scale route: rfm_two_pass
    "rfm_scores": "one-pass ntile spelling; twin: rfm_two_pass",
}


def _top_level_bracket_groups(s: str) -> list[str]:
    """Top-level ``[...]`` group contents of a plan line. A Spark
    Window node prints ``Window [exprs], [partition], [ordering]``;
    either trailing group is OMITTED when empty, so a partition-only
    window prints 2 groups and so does a global ordered window — the
    two are told apart by the last group's content (an ordering group
    carries ``ASC``/``DESC`` sort directions, a partition group is
    bare exprs)."""
    depth = 0
    groups: list[str] = []
    buf: list[str] = []
    for ch in s:
        if ch == "[":
            if depth == 0:
                buf = []
            else:
                buf.append(ch)
            depth += 1
        elif ch == "]":
            depth = max(0, depth - 1)
            if depth == 0:
                groups.append("".join(buf))
            else:
                buf.append(ch)
        elif depth > 0:
            buf.append(ch)
    return groups


def global_window_lines(plan: str) -> list[str]:
    """Plan lines executing a Window over the WHOLE dataset as one
    partition — the collapse-to-one-task shape that dies at scale."""
    out = []
    for line in plan.splitlines():
        head = line.strip().lstrip("*(0123456789)+-: ")
        # only the Window node itself: its print contract is stable;
        # WindowGroupLimit prints partition first and never executes
        # the frame
        if not head.startswith("Window "):
            continue
        groups = _top_level_bracket_groups(head)
        if len(groups) >= 3:
            continue  # exprs + partition + ordering: partitioned
        if len(groups) == 2 and not re.search(
            r"\b(ASC|DESC)\b", groups[1]
        ):
            continue  # exprs + partition (no ordering): partitioned
        out.append(head.split("windowspecdefinition")[0][:90])
    return out


# wrapper/pass-through nodes to skip when finding the plan's first real
# operator (AQE wraps everything in AdaptiveSparkPlan; writes and
# projections don't change result cardinality/ordering semantics)
_SORT_WRAPPERS = ("AdaptiveSparkPlan", "ResultQueryStage", "Project", "ColumnarToRow")


def top_level_global_sort(plan: str) -> bool:
    """True when the plan's first NON-WRAPPER operator is a global Sort
    — a whole-result sort with no bounding limit. Spark prints a global
    sort as ``Sort [keys...], true, 0`` (second arg = global flag);
    TakeOrderedAndProject / local sorts under joins don't match."""
    for line in plan.splitlines():
        head = line.strip().lstrip("*(0123456789)+- ")
        if not head:
            continue
        if any(head.startswith(w) for w in _SORT_WRAPPERS):
            continue
        return bool(re.match(r"Sort \[.*\], true, ", head))
    return False


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    only = set(sys.argv[2:])  # optional query-name filter, like check_oracle
    spark = get_spark("plan-audit")
    bad = []
    def _kernels(plan: str) -> tuple[int, int, int, int]:
        return (
            plan.count("MapInPandas"),
            plan.count("ArrowEvalPython"),
            plan.count("FlatMapGroupsInPandas"),
            plan.count("FlatMapCoGroupsInPandas"),
        )

    for name, fn in entrymod.queries().items():
        if only and name not in only:
            continue
        _ck.drain_audit_fragments()
        try:
            plan = fn(spark, sf_dir)._jdf.queryExecution().executedPlan().toString()
        except Exception as e:  # noqa: BLE001
            print(f"ERR  {name}: {str(e)[:100]}")
            bad.append(name)
            continue
        frags = _ck.drain_audit_fragments()
        mp, aep, fg, cg = _kernels(plan)
        allowed_arrow = ALLOW_ARROW.get(name, 1)
        if mp > allowed_arrow or fg > 1 or aep > allowed_arrow or cg > allowed_arrow:
            print(
                f"DUP  {name}: MapInPandas={mp} ArrowEvalPython={aep} "
                f"FlatMapGroups={fg} FlatMapCoGroups={cg}"
            )
            bad.append(name)
            continue
        flags = [
            f
            for f in RED_FLAGS
            if f in plan
            and not (f == "BroadcastNestedLoopJoin" and name in ALLOW_BNLJ)
        ]
        if top_level_global_sort(plan):
            flags.append("unbounded global Sort at plan top")
        gw = global_window_lines(plan)
        if gw and name not in ALLOW_GLOBAL_WINDOW:
            flags.append(f"global Window (no partition spec): {gw[0]}")
        # ---- full-lineage pass: every pre-checkpoint fragment ----
        frag_kernels = 0
        frag_allow = FRAGMENT_ALLOW.get(name, 1)
        for label, fplan in frags:
            fmp, faep, ffg, fcg = _kernels(fplan)
            frag_kernels += fmp + faep + ffg + fcg
            if fmp + faep + ffg + fcg > frag_allow:
                flags.append(
                    f"fragment {label or '?'}: {fmp + faep + ffg + fcg} Arrow "
                    f"stages in one materialization (allow {frag_allow})"
                )
            for f in RED_FLAGS:
                if f in fplan and not (
                    f == "BroadcastNestedLoopJoin" and name in ALLOW_BNLJ
                ):
                    flags.append(f"fragment {label or '?'}: {f}")
            fgw = global_window_lines(fplan)
            if fgw and name not in ALLOW_GLOBAL_WINDOW:
                flags.append(
                    f"fragment {label or '?'}: global Window "
                    f"(no partition spec): {fgw[0]}"
                )
        if frags:
            print(
                f"LINEAGE {name}: fragments={len(frags)} "
                f"hidden_kernels={frag_kernels} final_kernels={mp + aep + fg + cg}"
            )
        if flags:
            print(f"FLAG {name}: {', '.join(sorted(set(flags)))}")
            bad.append(name)
    print("CLEAN" if not bad else f"{len(bad)} flagged")
    return 1 if bad else 0


if __name__ == "__main__":
    raise SystemExit(main())
