"""Physical-plan audit: builds a small index, prints the scorer's
``explain("formatted")`` and asserts/flags the plan properties that matter
at 100 TB (SURVEY.md §4.3):

* partition pruning on the term-hash bucket (explicit IN predicate),
* parquet predicate pushdown + column pruning (PushedFilters / ReadSchema),
* broadcast of the tiny query-terms/stats/top-k sides,
* distributed top-k via TakeOrderedAndProject,
* whole-stage codegen coverage,
* the build's write plans: the content crosses one shuffle, and the
  tokenizer reads the docs base with no shuffle in front of it,
* compaction's write plans: the build's layout and fan-out.

Writes PLANS.md at the repo root.  Usage: python tools/plan_audit.py
"""

from __future__ import annotations

import io
import os
import re
import sys
import tempfile
from contextlib import redirect_stdout

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def _write_plans(spark) -> dict[str, str]:
    """Output path → the final formatted physical plan of every file write
    this session ran, read from the SQL status store (AQE records each
    execution's final plan there)."""
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
    execs = spark._jsparkSession.sharedState().statusStore().executionsList()
    out = {}
    for i in range(execs.size()):
        plan = execs.apply(i).physicalPlanDescription()
        m = re.search(
            r"^\(\d+\) Execute InsertIntoHadoopFsRelationCommand\n"
            r"Input: \[\]\nArguments: file:([^,]+),",
            plan,
            re.M,
        )
        if m:
            out[m.group(1)] = plan
    return out


def _final_tree(plan: str) -> list[str]:
    """The node lines of an adaptive plan's top-level final plan."""
    tree = plan.split("\n\n", 1)[0].splitlines()
    start = next(
        (i + 1 for i, ln in enumerate(tree) if ln == "+- == Final Plan =="), 0
    )
    end = next(
        (i for i, ln in enumerate(tree) if ln == "+- == Initial Plan =="),
        len(tree),
    )
    return tree[start:end]


def _content_exchanges(plan: str) -> int:
    """Shuffle Exchanges of the final plan whose input carries ``content``."""
    n = 0
    for ln in _final_tree(plan):
        m = re.search(r"\bExchange \((\d+)\)", ln)
        if m and "BroadcastExchange" not in ln:
            detail = re.search(
                rf"^\({m.group(1)}\) Exchange\nInput \[\d+\]: (.*)$",
                plan,
                re.M,
            )
            n += bool(detail and "content#" in detail.group(1))
    return n


def _depth(node_line: str) -> int:
    """Column at which a plan-tree line's node name starts."""
    return len(node_line) - len(node_line.lstrip(" :|+-"))


def _tokenizer_reads_scan(plan: str) -> bool:
    """The MapInArrow subtree of the final plan holds a parquet scan and
    no Exchange."""
    tree = _final_tree(plan)
    for i, ln in enumerate(tree):
        if "MapInArrow" in ln:
            sub = []
            for nxt in tree[i + 1:]:
                if _depth(nxt) <= _depth(ln):
                    break
                sub.append(nxt)
            return any("Scan parquet" in x for x in sub) and not any(
                re.search(r"\bExchange\b", x) for x in sub
            )
    return False


def _layout_write(plan: str, part: str, keys, k: int) -> bool:
    """The final write plan repartitions by ``part`` into ``k`` partitions
    (Spark plans one as SinglePartition) and holds one Sort, on the layout
    ``keys``: the partitioned writer inserted no second Sort."""
    tree = _final_tree(plan)

    def args(pattern: str) -> list[str]:
        ids = [m.group(1) for ln in tree if (m := re.search(pattern, ln))]
        return [
            m.group(1)
            for i in ids
            if (m := re.search(
                rf"^\({i}\) .*\n(?:Input.*\n)?Arguments: (.*)$", plan, re.M
            ))
        ]

    want = "SinglePartition" if k == 1 else rf"hashpartitioning\({part}#\d+, {k}\)"
    repartitioned = any(
        re.match(rf"{want}, REPARTITION_BY_NUM", a)
        for a in args(r"\bExchange \((\d+)\)")
    )
    sorts = args(r"\bSort \((\d+)\)")
    return (
        repartitioned
        and len(sorts) == 1
        and re.findall(r"(\w+)#\d+L? ASC", sorts[0]) == list(keys)
    )


def main() -> None:
    from pyspark.sql import SparkSession

    from bm25_index_tool_spark import build as B
    from bm25_index_tool_spark import corpus as C
    from bm25_index_tool_spark.score import LoadedIndex, score_query

    spark = (
        SparkSession.builder.master("local[2]")
        .appName("plan-audit")
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    idx_dir = tempfile.mkdtemp(prefix="bm25_plan_audit_")
    # the corpus as one parquet file, the shape of a small ingested table:
    # a single input split, which the build must not shuffle twice to spread
    src_dir = tempfile.mkdtemp(prefix="bm25_plan_corpus_")
    src = os.path.join(src_dir, "corpus.parquet")
    spark.createDataFrame(
        C.generate_rows(300, seed=13), C.CORPUS_SCHEMA
    ).coalesce(1).write.parquet(src)
    df = spark.read.parquet(src)
    B.build_index(spark, df, idx_dir, num_buckets=8)
    index = LoadedIndex.open(spark, idx_dir)
    writes = _write_plans(spark)
    docs_wplan = writes.get(os.path.join(idx_dir, B.DOCS_DIR), "")
    post_wplan = writes.get(os.path.join(idx_dir, B.POSTINGS_DIR), "")
    build_checks = {
        "build moves content through one shuffle (one Exchange carrying "
        "content in the docs write)": _content_exchanges(docs_wplan) == 1,
        "tokenizer reads the docs base directly (no Exchange between the "
        "docs scan and MapInArrow)": _tokenizer_reads_scan(post_wplan),
    }

    q = score_query(index, "kubernetes networking", 10, include_content=False)
    q.collect()  # execute so AQE finalizes the plan (codegen markers appear)
    buf = io.StringIO()
    with redirect_stdout(buf):
        q.explain("formatted")
    plan = buf.getvalue()
    buf2 = io.StringIO()
    with redirect_stdout(buf2):
        q.explain()  # simple mode: codegen stages appear as *(N) markers
    simple_plan = buf2.getvalue()

    # a one-term query: no aggregation, so no shuffle of any kind (the
    # broadcasts stay); \bExchange\b skips BroadcastExchange/ReusedExchange
    oq = score_query(index, "kubernetes", 10, include_content=False)
    oq.collect()
    obuf = io.StringIO()
    with redirect_stdout(obuf):
        oq.explain("formatted")
    oplan = obuf.getvalue()

    checks = {
        "bucket partition pruning (PartitionFilters with bucket IN ...)": (
            "bucket" in plan and ("PartitionFilters" in plan or "partition" in plan.lower())
        ),
        "parquet predicate pushdown (PushedFilters non-empty)": "PushedFilters: [In" in plan
        or "PushedFilters: [Is" in plan,
        "broadcast joins (BroadcastHashJoin/BroadcastExchange)": "BroadcastHashJoin" in plan,
        "distributed top-k (TakeOrderedAndProject)": "TakeOrderedAndProject" in plan,
        "single-query result is a top-k (no range Exchange)": (
            "rangepartitioning" not in plan.lower()
        ),
        "one-term query has no shuffle": (
            "TakeOrderedAndProject" in oplan
            and re.search(r"\bExchange\b", oplan) is None
        ),
        "whole-stage codegen spans (*(N) markers in simple plan)": "*(" in simple_plan,
        "column pruning (postings scan reads only needed cols)": "ReadSchema" in plan,
    }

    # ---- set-at-a-time batch scorer plan --------------------------------
    from bm25_index_tool_spark.score import score_query_batch

    bq = score_query_batch(
        index, ["kubernetes networking", "data value", "spark join table"], 10
    )
    bq.collect()
    bbuf = io.StringIO()
    with redirect_stdout(bbuf):
        bq.explain("formatted")
    bplan = bbuf.getvalue()
    batch_checks = {
        "bucket pruning survives multi-query union (PartitionFilters "
        "bucket IN over the union of all queries' buckets)": (
            "PartitionFilters: [bucket" in bplan and " IN (" in bplan
        ),
        "query-terms and termstats sides broadcast": "BroadcastHashJoin" in bplan,
        "winners→docs join broadcast too (3 broadcast joins total: qterms, "
        "stats, top-k winners — VERDICT r02 #5)": (
            bplan.count("BroadcastHashJoin") >= 3
        ),
        "per-query rank via window (no per-query jobs)": "Window" in bplan
        or "RunningWindowFunction" in bplan,
        "no cartesian/nested-loop join anywhere": "CartesianProduct" not in bplan
        and "BroadcastNestedLoopJoin" not in bplan,
    }

    # ---- ANN probe plans: partition pruning on the materialized index ----
    # (VERDICT r02 #8): the SRP probe must read only its n_tables
    # (table,bucket) partitions, the IVF probe only its nprobe cells.
    from bm25_index_tool_spark.pipeline import simsearch as SS

    emb_dim = 8
    emb_rows = [
        (i, [float(((i * 7 + j * 3) % 13) - 6) for j in range(emb_dim)])
        for i in range(200)
    ]
    emb = spark.createDataFrame(emb_rows, "vec_id long, embedding array<float>")
    ann_path = os.path.join(idx_dir, "ann_probe_audit")
    SS.write_ann_index(
        emb, ann_path, n_bits=6, n_tables=3, seed=7, dim=emb_dim
    )
    qv = [float(x) for x in emb_rows[5][1]]
    aq = SS.ann_search(spark, ann_path, qv, 10, n_bits=6, n_tables=3, seed=7)
    aq.collect()
    abuf = io.StringIO()
    with redirect_stdout(abuf):
        aq.explain("formatted")
    aplan = abuf.getvalue()

    ivf_path = os.path.join(idx_dir, "ivf_probe_audit")
    cents = SS.write_ivf_index(emb, ivf_path, m=8)
    iq = SS.ivf_index_search(spark, ivf_path, cents, qv, 10, nprobe=2)
    iq.collect()
    ibuf = io.StringIO()
    with redirect_stdout(ibuf):
        iq.explain("formatted")
    iplan = ibuf.getvalue()

    ann_checks = {
        "SRP probe prunes to (table,bucket) partitions "
        "(PartitionFilters over table/bucket)": (
            "PartitionFilters" in aplan
            and "table" in aplan
            and "bucket" in aplan
        ),
        "SRP probe plan has no full-index shuffle join": (
            "CartesianProduct" not in aplan
            and "BroadcastNestedLoopJoin" not in aplan
        ),
        "IVF probe prunes to nprobe cell partitions "
        "(PartitionFilters cell IN ...)": (
            "PartitionFilters" in iplan and "cell" in iplan
        ),
        "IVF top-k is TakeOrderedAndProject": "TakeOrderedAndProject" in iplan,
    }

    # ---- dedup hot paths (VERDICT r02 #9): banded minhash + jaccard ------
    from bm25_index_tool_spark.pipeline import dedup as DD

    sf_docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    mh = DD.minhash_lsh_pairs(sf_docs, "doc_id", "text")
    mh.collect()
    mbuf = io.StringIO()
    with redirect_stdout(mbuf):
        mh.explain("formatted")
    mplan = mbuf.getvalue()
    jc = DD.ngram_jaccard_pairs(sf_docs, "doc_id", "text")
    jc.collect()
    jbuf = io.StringIO()
    with redirect_stdout(jbuf):
        jc.explain("formatted")
    jplan = jbuf.getvalue()
    dedup_checks = {
        "minhash pair-gen has no cartesian/nested-loop join": (
            "CartesianProduct" not in mplan
            and "BroadcastNestedLoopJoin" not in mplan
        ),
        "minhash bucket join is a keyed equi-join "
        "(SortMergeJoin/ShuffledHashJoin/BroadcastHashJoin)": (
            "SortMergeJoin" in mplan
            or "ShuffledHashJoin" in mplan
            or "BroadcastHashJoin" in mplan
        ),
        "jaccard pair-gen has no cartesian/nested-loop join": (
            "CartesianProduct" not in jplan
            and "BroadcastNestedLoopJoin" not in jplan
        ),
        "jaccard shingle self-join is a keyed equi-join": (
            "SortMergeJoin" in jplan
            or "ShuffledHashJoin" in jplan
            or "BroadcastHashJoin" in jplan
        ),
    }

    # ---- LSM live-view plan: pruning must push through segments ----------
    # (delta_store.py): after an append update, the postings view is
    # (base ∪ segments) ⟕anti broadcast(tombstones) — the query's bucket IN
    # predicate must reach BOTH parquet scans, each in its layout's form:
    # PartitionFilters on the bucket=-partitioned base, a pushed row-group
    # filter on the flat sorted segment files.  The anti-join must be a
    # broadcast, not a shuffle.
    from bm25_index_tool_spark.client import BM25SparkClient

    lsm_root = os.path.join(idx_dir, "lsm_audit_root")
    lsm_client = BM25SparkClient(spark, lsm_root)
    lsm_rows = C.generate_rows(80, seed=3)
    lsm_client.create_index(
        "lsm", spark.createDataFrame(lsm_rows, C.CORPUS_SCHEMA), num_buckets=8
    )
    lsm_cur = [
        (r[0], r[1], r[2], r[3], r[4] + " lsmedit") if i % 9 == 0 else r
        for i, r in enumerate(lsm_rows)
    ]
    lsm_client.update_index(
        "lsm", spark.createDataFrame(lsm_cur, C.CORPUS_SCHEMA)
    )  # append update → segments + tombstones
    lsm_idx = lsm_client._require("lsm")
    lq = score_query(lsm_idx, "kubernetes networking", 10, include_content=False)
    lq.collect()
    lbuf = io.StringIO()
    with redirect_stdout(lbuf):
        lq.explain("formatted")
    lplan = lbuf.getvalue()
    lscans = [
        blk
        for blk in lplan.split("\n\n")
        if "Scan parquet" in blk.strip().split("\n", 1)[0]
    ]

    def _scan_has(table_dir: str, key: str, *preds: str) -> bool:
        return any(
            f"/{table_dir}" in blk
            and any(
                ln.startswith(key) and any(p in ln for p in preds)
                for ln in blk.splitlines()
            )
            for blk in lscans
        )

    lsm_checks = {
        "bucket pruning reaches the base scan "
        "(postings PartitionFilters with bucket IN ...)": _scan_has(
            B.POSTINGS_DIR + "]", "PartitionFilters", "bucket"
        ),
        "bucket pruning reaches the flat segment scan "
        "(postings_seg PushedFilters with bucket IN/=)": _scan_has(
            "postings_seg/seg=", "PushedFilters", "In(bucket", "EqualTo(bucket"
        ),
        "tombstone anti-join is broadcast (BroadcastHashJoin ... LeftAnti)": (
            "LeftAnti" in lplan and "BroadcastHashJoin" in lplan
        ),
        "no cartesian/nested-loop join in the view": (
            "CartesianProduct" not in lplan
            and "BroadcastNestedLoopJoin" not in lplan
        ),
        "top-k still TakeOrderedAndProject through the view": (
            "TakeOrderedAndProject" in lplan
        ),
    }

    # ---- streaming upsert diff plan (VERDICT r03 #9) ---------------------
    # The foreachBatch merge's diff must broadcast the (tiny) micro-batch
    # into the stored-docs projection — stored side streamed, never
    # shuffled — and the stored scan must read only the narrow diff columns.
    from pyspark.sql import functions as F

    from bm25_index_tool_spark import delta_store as DSM

    lsm_dir = lsm_client._index_dir("lsm")
    docs_live = DSM.docs_view(
        spark, lsm_dir,
        B.read_table(spark, lsm_dir, B.DOCS_DIR, B.load_manifest(lsm_dir)),
    )
    stored = docs_live.select(
        "full_path", F.col("content_md5").alias("_s"), "doc_id"
    )
    batch = (
        spark.createDataFrame(
            [
                (r[0], r[1], r[2], r[3], r[4] + " tick")
                for r in lsm_rows[:5]
            ]
            + [("rb", "brand/new.txt", "c0", "txt", "fresh drop")],
            C.CORPUS_SCHEMA,
        )
        .withColumn("full_path", F.concat_ws("/", "repo", "path"))
        .withColumn("content_md5", F.md5("content"))
    )
    ud = DSM.upsert_diff_frame(batch, stored)
    ud.collect()
    ubuf = io.StringIO()
    with redirect_stdout(ubuf):
        ud.explain("formatted")
    uplan = ubuf.getvalue()
    _narrow_ok = [
        ln
        for ln in uplan.splitlines()
        if "ReadSchema" in ln and "content_md5" in ln
    ]
    upsert_checks = {
        "micro-batch side broadcast into the stored scan "
        "(BroadcastHashJoin; stored side streamed)": (
            "BroadcastHashJoin" in uplan
        ),
        "no shuffle join anywhere in the diff "
        "(no SortMergeJoin/ShuffledHashJoin)": (
            "SortMergeJoin" not in uplan and "ShuffledHashJoin" not in uplan
        ),
        "adds derived via broadcast anti-join on matched paths (LeftAnti)": (
            "LeftAnti" in uplan
        ),
        "stored-docs scans pruned to the narrow diff columns "
        "(every content_md5 ReadSchema lacks content/content_sha256)": (
            bool(_narrow_ok)
            and all(
                "content_sha256" not in ln and "content:string" not in ln
                for ln in _narrow_ok
            )
        ),
        "no cartesian/nested-loop join in the diff": (
            "CartesianProduct" not in uplan
            and "BroadcastNestedLoopJoin" not in uplan
        ),
    }

    # ---- compaction: the build's layout and fan-out ----------------------
    # a second append, then a full fold of both segments: each base rewrite
    # repartitions by its partition column to the build's task count,
    # min(num_buckets, sized_parallelism(num_docs)), and sorts once, by its
    # layout keys, so the partitioned writer adds no second Sort
    lsm_client.update_index(
        "lsm",
        spark.createDataFrame(
            [
                (r[0], r[1], r[2], r[3], r[4] + " lsmedit2") if i % 7 == 0 else r
                for i, r in enumerate(lsm_cur)
            ],
            C.CORPUS_SCHEMA,
        ),
    )
    lsm_client.compact_index("lsm")
    compact_k = min(8, B.sized_parallelism(spark, len(lsm_rows)))
    compact_writes = _write_plans(spark)
    compact_plans = {
        sub: compact_writes.get(os.path.join(lsm_dir, sub) + ".compact-tmp", "")
        for sub in B.LAYOUTS
    }
    compact_checks = {
        f"compaction {sub} write: repartition({compact_k}, {part}) and one "
        f"Sort on ({', '.join(keys)})": _layout_write(
            compact_plans[sub], part, keys, compact_k
        )
        for sub, (part, keys) in B.LAYOUTS.items()
    }

    # ---- semantic ANN probe over the vector store ------------------------
    # build_vector_ann partitions the chunk table by IVF cell; a probe
    # after an append update must (a) prune to the nprobe cell partitions,
    # (b) broadcast-anti the tombstoned paths, (c) union the (delta-sized)
    # live segment rows — never a full-store scan.
    from bm25_index_tool_spark import vector as V

    lsm_client.create_index(
        "sem",
        spark.createDataFrame(C.generate_rows(60, seed=5), C.CORPUS_SCHEMA),
        num_buckets=4,
        build_vector_index=True,
    )
    sem_dir = lsm_client._index_dir("sem")
    lsm_client.build_vector_ann("sem", m=6)
    sem_cur = [
        (r[0], r[1], r[2], r[3], r[4] + " semedit") if i % 11 == 0 else r
        for i, r in enumerate(C.generate_rows(60, seed=5))
    ]
    lsm_client.update_index(
        "sem", spark.createDataFrame(sem_cur, C.CORPUS_SCHEMA)
    )
    sq = V.semantic_search_index(
        spark, sem_dir, "kubernetes networking", 10, method="ivf"
    )
    sq.collect()
    sbuf = io.StringIO()
    with redirect_stdout(sbuf):
        sq.explain("formatted")
    splan = sbuf.getvalue()
    sem_checks = {
        "ANN probe prunes to nprobe cell partitions "
        "(PartitionFilters cell IN ...)": (
            "PartitionFilters" in splan and "cell" in splan
        ),
        "tombstone aliveness is a broadcast join + seg-order filter "
        "(no shuffle join; r05 fold-absorption rule)": (
            "BroadcastHashJoin" in splan
            and "SortMergeJoin" not in splan
            and "ShuffledHashJoin" not in splan
        ),
        "no cartesian/nested-loop join in the semantic probe": (
            "CartesianProduct" not in splan
            and "BroadcastNestedLoopJoin" not in splan
        ),
        "top-k fetch is a global sort-limit (TakeOrderedAndProject)": (
            "TakeOrderedAndProject" in splan
        ),
    }

    # second append + tiered merge → the folded vector segment is ABSORBED
    # into a cell-partitioned fold dir (r05): the probe must now read the
    # fold via cell PartitionFilters too, and union NO live segment tail
    # (everything ≤ the fold id is absorbed)
    sem_cur2 = [
        (r[0], r[1], r[2], r[3], r[4] + " semedit2") if i % 7 == 0 else r
        for i, r in enumerate(sem_cur)
    ]
    lsm_client.update_index(
        "sem", spark.createDataFrame(sem_cur2, C.CORPUS_SCHEMA)
    )
    lsm_client.compact_index("sem", tiered=True)
    fq = V.semantic_search_index(
        spark, sem_dir, "kubernetes networking", 10, method="ivf"
    )
    fq.collect()
    fbuf = io.StringIO()
    with redirect_stdout(fbuf):
        fq.explain("formatted")
    fplan = fbuf.getvalue()
    ann_meta_now = V._load_ann_meta(sem_dir)
    sem_checks.update({
        "post-merge probe serves the ABSORBED fold (meta lists the fold, "
        "ANN still fresh)": bool(ann_meta_now.get("absorbed")),
        "fold scan is cell-partition-pruned (≥2 scans with cell "
        "PartitionFilters: base + fold)": (
            sum(
                1
                for ln in fplan.splitlines()
                if "PartitionFilters" in ln and "cell" in ln
            )
            >= 2
        ),
        "no shuffle join in the fold probe": (
            "SortMergeJoin" not in fplan
            and "ShuffledHashJoin" not in fplan
            and "CartesianProduct" not in fplan
        ),
    })

    # ---- winners-fetch dynamic partition pruning (VERDICT r04 #5) --------
    # the scorer joins the broadcast top-k on (doc_id, doc_pt): the docs
    # scan must carry a dynamicpruningexpression PartitionFilter so the
    # fetch reads ≤k partitions, not the whole docs table (the step that
    # grows O(corpus) at 5M+ docs).
    dpp_lines = [
        ln
        for ln in plan.splitlines()
        if "PartitionFilters" in ln and "doc_pt" in ln
    ]
    dpp_checks = {
        "winners fetch prunes docs partitions dynamically "
        "(dynamicpruningexpression on doc_pt)": (
            any("dynamicpruning" in ln.lower() for ln in dpp_lines)
        ),
        "batch winners fetch pruned too": (
            "dynamicpruning" in bplan.lower()
        ),
    }

    # ---- blocks engine with content (VERDICT r04 #3) ---------------------
    # client.search(engine='blocks', include_content=True): the ≤k-row WAND
    # result joins the full docs table for content — must be broadcast,
    # never a shuffle join.
    from bm25_index_tool_spark import blocks as BL
    from bm25_index_tool_spark.wand import wand_search

    BL.build_blocks(spark, idx_dir, num_shards=4)
    index = LoadedIndex.open(spark, idx_dir)  # reopen: blocks now exist
    from bm25_index_tool_spark.score import with_winner_doc_pt

    wq = wand_search(index, "kubernetes networking", 10)
    _docs_full = index.docs()
    _w = with_winner_doc_pt(wq, index.manifest.num_buckets)
    wc = F.broadcast(_w).join(
        _docs_full.select("doc_id", "content", "doc_pt"), ["doc_id", "doc_pt"]
    )
    wc.collect()
    wbuf = io.StringIO()
    with redirect_stdout(wbuf):
        wc.explain("formatted")
    wplan = wbuf.getvalue()
    wand_content_checks = {
        "WAND content join is broadcast (BroadcastHashJoin)": (
            "BroadcastHashJoin" in wplan
        ),
        "no shuffle join on the content fetch "
        "(no SortMergeJoin/ShuffledHashJoin)": (
            "SortMergeJoin" not in wplan and "ShuffledHashJoin" not in wplan
        ),
        "WAND winners fetch inside wand_search pruned (doc_pt "
        "dynamicpruning)": ("dynamicpruning" in wplan.lower()),
    }

    # ---- hot-term skew in the join scorer (VERDICT r04 #8) ---------------
    # a term with df = N makes every doc match: the groupBy(doc_id) after
    # the postings join must show a map-side partial aggregate (the skew
    # mitigation — combining before the shuffle), and the join side must
    # stay broadcast (no skewed shuffle join to rescue).
    hot_dir = tempfile.mkdtemp(prefix="bm25_plan_hot_")
    hot_rows = [
        (r[0], r[1], r[2], r[3], "hotterm " + r[4])
        for r in C.generate_rows(400, seed=29)
    ]
    B.build_index(
        spark,
        spark.createDataFrame(hot_rows, C.CORPUS_SCHEMA),
        hot_dir,
        num_buckets=8,
    )
    hot_idx = LoadedIndex.open(spark, hot_dir)
    hq = score_query(hot_idx, "hotterm data", 10, include_content=False)
    hq.collect()
    hbuf = io.StringIO()
    with redirect_stdout(hbuf):
        hq.explain("formatted")
    hplan = hbuf.getvalue()
    hot_checks = {
        "df=N hot term: map-side partial aggregate before the doc_id "
        "shuffle (partial HashAggregate present)": (
            "partial" in hplan.lower() and "HashAggregate" in hplan
        ),
        "postings join stays broadcast under the hot term "
        "(no SortMergeJoin)": ("SortMergeJoin" not in hplan),
        "hot-term top-k still TakeOrderedAndProject": (
            "TakeOrderedAndProject" in hplan
        ),
    }

    lines = [
        "# PLANS.md — physical-plan audit of the BM25 scorer (plan 1)",
        "",
        "Generated by `python tools/plan_audit.py` on a 300-doc index,",
        'query `"kubernetes networking"`, top_k=10.',
        "",
        "## Checks",
        "",
        "| property | present |",
        "|---|---|",
    ]
    ok = True
    for name, passed in checks.items():
        lines.append(f"| {name} | {'✅' if passed else '❌'} |")
        ok = ok and passed
    lines += [
        "",
        "## Batch scorer (3 queries set-at-a-time, one job)",
        "",
        "| property | present |",
        "|---|---|",
    ]
    for name, passed in batch_checks.items():
        lines.append(f"| {name} | {'✅' if passed else '❌'} |")
        ok = ok and passed
    for title, cks in (
        ("Index build (300 docs from one parquet file, num_buckets=8)", build_checks),
        ("ANN probes (materialized SRP + IVF indexes)", ann_checks),
        ("Dedup hot paths (banded MinHash + n-gram Jaccard, sf0.001)", dedup_checks),
        ("LSM live view (post-append-update scorer plan)", lsm_checks),
        ("Streaming upsert diff (foreachBatch merge, mode=upsert)", upsert_checks),
        ("Full compaction (80 docs, num_buckets=8, two segments)", compact_checks),
        ("Semantic ANN probe (vector_ann, post-append-update)", sem_checks),
        ("Winners-fetch dynamic partition pruning (VERDICT r04 #5)", dpp_checks),
        ("Blocks engine content join (VERDICT r04 #3)", wand_content_checks),
        ("Hot-term skew, join scorer df=N (VERDICT r04 #8)", hot_checks),
    ):
        lines += ["", f"## {title}", "", "| property | present |", "|---|---|"]
        for name, passed in cks.items():
            lines.append(f"| {name} | {'✅' if passed else '❌'} |")
            ok = ok and passed
    checks = {
        **checks, **batch_checks, **build_checks, **ann_checks, **dedup_checks,
        **lsm_checks, **upsert_checks, **compact_checks, **sem_checks,
        **dpp_checks,
        **wand_content_checks, **hot_checks,
    }
    lines += [
        "",
        "## Build: docs write (final plan)",
        "",
        "```",
        docs_wplan.strip(),
        "```",
        "",
        "## Build: postings write, through the tokenizer (final plan)",
        "",
        "```",
        post_wplan.strip(),
        "```",
        "",
        "## Compaction: postings write (final plan)",
        "",
        "```",
        compact_plans[B.POSTINGS_DIR].strip(),
        "```",
        "",
        "## ANN SRP probe `explain(\"formatted\")`",
        "",
        "```",
        aplan.strip(),
        "```",
        "",
        "## ANN IVF probe `explain(\"formatted\")`",
        "",
        "```",
        iplan.strip(),
        "```",
        "",
        "## LSM live-view scorer `explain(\"formatted\")`",
        "",
        "```",
        lplan.strip(),
        "```",
        "",
        "## Streaming upsert diff `explain(\"formatted\")`",
        "",
        "```",
        uplan.strip(),
        "```",
        "",
        "## Semantic ANN probe `explain(\"formatted\")`",
        "",
        "```",
        splan.strip(),
        "```",
    ]
    lines += [
        "",
        "## Blocks-engine content join `explain(\"formatted\")`",
        "",
        "```",
        wplan.strip(),
        "```",
        "",
        "## Hot-term (df=N) join-scorer `explain(\"formatted\")`",
        "",
        "```",
        hplan.strip(),
        "```",
    ]
    lines += [
        "",
        "## Batch scorer `explain(\"formatted\")`",
        "",
        "```",
        bplan.strip(),
        "```",
        "",
        "## `explain()` (simple; `*(N)` = whole-stage-codegen stage)",
        "",
        "```",
        simple_plan.strip(),
        "```",
        "",
        "## `explain(\"formatted\")` output",
        "",
        "```",
        plan.strip(),
        "```",
        "",
        "## One-term query `\"kubernetes\"` `explain(\"formatted\")`",
        "",
        "```",
        oplan.strip(),
        "```",
        "",
    ]
    out = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "PLANS.md")
    with open(out, "w") as f:
        f.write("\n".join(lines))
    print(f"PLANS.md written; all checks pass: {ok}")
    for name, passed in checks.items():
        print(f"  {'OK ' if passed else 'MISS'} {name}")
    import shutil

    shutil.rmtree(idx_dir, ignore_errors=True)
    shutil.rmtree(src_dir, ignore_errors=True)
    shutil.rmtree(hot_dir, ignore_errors=True)
    spark.stop()


if __name__ == "__main__":
    main()
