"""BM25SparkClient — the user-facing API surface, mirroring the reference's
``BM25Client`` (reference ``api.py:43-600``): create/search/search_multi/
search_related/batch_search/update_index/stats/list/delete + path filters,
fragments, LRU cache, history log.  A user of the reference can switch to
this client and run every query they run today (SURVEY.md §2 coverage).
"""

from __future__ import annotations

import json
import os
import shutil
import time
from typing import Any

from pyspark.sql import DataFrame, SparkSession, functions as F

from bm25_index_tool_spark import build as B
from bm25_index_tool_spark import fusion
from bm25_index_tool_spark.cache import SearchCache
from bm25_index_tool_spark.filters import PathFilter
from bm25_index_tool_spark.fragments import extract_fragments
from bm25_index_tool_spark.history import SearchHistory
from bm25_index_tool_spark.related import search_related as _search_related
from bm25_index_tool_spark.telemetry import traced
from bm25_index_tool_spark.score import (
    LoadedIndex,
    score_query,
    score_query_batch,
)

REGISTRY_FILE = "registry.json"


class BM25SparkClient:
    """All indices live under ``root_dir``; a ``registry.json`` catalogs
    them (reference ``storage/registry.py:16-141`` role)."""

    def __init__(self, spark: SparkSession, root_dir: str):
        from bm25_index_tool_spark.config import load_config

        self.spark = spark
        self.root = root_dir
        os.makedirs(root_dir, exist_ok=True)
        # global TOML config (<root>/config.toml): engine-wide defaults
        self.config = load_config(root_dir)
        self.cache = SearchCache(max_size=self.config.search_cache_size)
        self.history = SearchHistory(spark, os.path.join(root_dir, "_history"))
        # name -> (index token, handle); _require revalidates the token per
        # call so out-of-band commits are picked up automatically
        self._open: dict[str, tuple[tuple, LoadedIndex]] = {}

    # -- registry ------------------------------------------------------------

    def _registry_path(self) -> str:
        return os.path.join(self.root, REGISTRY_FILE)

    def _read_registry(self) -> dict:
        p = self._registry_path()
        if not os.path.exists(p):
            return {}
        with open(p) as f:
            return json.load(f)

    def _write_registry(self, reg: dict) -> None:
        tmp = self._registry_path() + ".tmp"
        with open(tmp, "w") as f:
            json.dump(reg, f, indent=2, sort_keys=True)
        os.replace(tmp, self._registry_path())

    def _registry_txn(self, mutate) -> None:
        """Cross-process-safe read-modify-write of registry.json — the
        same flock machinery as the per-index write lock, keyed on the
        registry path and held only for the tiny read+mutate+write (never
        while building).  Without it, create_index wrote back a registry
        snapshot taken BEFORE its multi-minute build, erasing any entry a
        concurrent process registered meanwhile (code-review r05).  Lock
        order: always per-index lock BEFORE registry lock, never the
        reverse — no deadlock."""
        from bm25_index_tool_spark.delta_store import write_lock

        with write_lock(self._registry_path()):
            reg = self._read_registry()
            mutate(reg)
            self._write_registry(reg)

    def _index_dir(self, name: str) -> str:
        return os.path.join(self.root, "indices", name)

    def _index_version(self, name: str) -> tuple | None:
        """delta_store.index_token of the named index: ANY committed write,
        by this process or another, changes it.  Raises for an index of
        another format before anything else reads it."""
        from bm25_index_tool_spark.delta_store import index_token

        return index_token(self._index_dir(name), self.spark)

    def _require(self, name: str) -> LoadedIndex:
        if name not in self._read_registry():
            raise ValueError(f"Index '{name}' not found")
        ver = self._index_version(name)
        held = self._open.get(name)
        # reopen on version change: an out-of-band writer (another client
        # or process) may have committed — a held handle would keep serving
        # the old manifest stats (N/avgdl enter every BM25 score) and
        # pre-commit cached frames
        if held is None or held[0] != ver:
            self._drop_open(name)  # unpersist a preloaded stale handle
            self._open[name] = (
                ver,
                LoadedIndex.open(self.spark, self._index_dir(name)),
            )
        return self._open[name][1]

    def _drop_open(self, name: str) -> None:
        """Forget a held handle, unpersisting any preload()ed frames —
        popping without unload would leak executor cache blocks."""
        held = self._open.pop(name, None)
        if held is not None:
            held[1].unload()

    # a scan can race a FULL compaction's base-directory swap: the version
    # check passed, but the swap landed before the job listed/read the old
    # parquet files (README "concurrency"; append commits are additive and
    # never trigger this).  Spark surfaces it as a FileNotFoundException
    # (classic) or a PATH_NOT_FOUND/FILE_NOT_FOUND error class (4.x).
    _STALE_SCAN_MARKERS = (
        "FileNotFoundException",
        "PATH_NOT_FOUND",
        "FILE_NOT_FOUND",
        "underlying files have been updated",
    )

    def _run_with_reopen(self, names: list[str], fn, attempts: int = 2):
        """Run ``fn`` (which must resolve its handles via ``_require`` on
        every call), retrying once after dropping the named handles if the
        scan failed against swapped-out files.  The reopen re-stats the
        manifest and re-lists segments, so the retry sees the committed
        post-compaction state; any other failure propagates unchanged."""
        while True:
            try:
                return fn()
            except Exception as e:  # noqa: BLE001 — filtered by marker below
                attempts -= 1
                msg = str(e)
                if attempts <= 0 or not any(
                    m in msg for m in self._STALE_SCAN_MARKERS
                ):
                    raise
                for n in names:
                    self._drop_open(n)

    # -- lifecycle -----------------------------------------------------------

    @traced("client.create_index")
    def create_index(
        self,
        name: str,
        corpus: DataFrame,
        *,
        tokenizer_profile: str | None = None,
        params: B.BM25Params | None = None,
        num_buckets: int | None = None,
        overwrite: bool = False,
        build_block_engine: bool = False,
        build_vector_index: bool = False,
    ) -> B.IndexManifest:
        from bm25_index_tool_spark.config import validate_params

        reg = self._read_registry()
        if name in reg and not overwrite:
            raise ValueError(f"Index '{name}' already exists")
        manifest = B.build_index(
            self.spark,
            corpus,
            self._index_dir(name),
            name=name,
            tokenizer_profile=tokenizer_profile
            or self.config.default_tokenizer_profile,
            params=validate_params(params) if params else self.config.bm25_params(),
            num_buckets=num_buckets or self.config.default_num_buckets,
        )
        if build_block_engine:
            from bm25_index_tool_spark.blocks import build_blocks

            build_blocks(self.spark, self._index_dir(name))
        if build_vector_index:
            from bm25_index_tool_spark.vector import build_vector_index as _bvi

            # embedder choice comes from config.toml (default_embedder);
            # the store records it so search embeds queries with the same
            # model (VERDICT r02 #7 plug-in seam)
            _bvi(
                self.spark,
                self._index_dir(name),
                embedder=self.config.default_embedder,
            )
        def _register(reg):
            reg[name] = {
                "name": name,
                "created_at": manifest.created_at,
                "file_count": manifest.num_docs,
                "index_version": manifest.index_version,
                "tokenizer_profile": manifest.tokenizer_profile,
                "bm25_params": manifest.params.__dict__,
            }

        self._registry_txn(_register)
        self._drop_open(name)
        return manifest

    @traced("client.update_index")
    def update_index(self, name: str, current: DataFrame) -> B.IndexManifest:
        """Incremental update from the complete current corpus (SURVEY.md
        §2.3 I3): diff on (full_path, md5), then one LSM segment append
        whose write IO is proportional to the delta."""
        from bm25_index_tool_spark.incremental import apply_update

        self._require(name)
        manifest = apply_update(self.spark, self._index_dir(name), current)
        def _bump(reg):
            # the entry may have been deleted by a concurrent process —
            # don't resurrect a half-entry for a dead index
            if name in reg:
                reg[name]["file_count"] = manifest.num_docs

        self._registry_txn(_bump)
        self._drop_open(name)
        self.cache.clear()
        return manifest

    @staticmethod
    def _segment_count(idx_dir: str) -> int:
        from bm25_index_tool_spark.delta_store import segment_ids

        return len(segment_ids(idx_dir))

    def compact_index(self, name: str, *, tiered: bool = False) -> int:
        """Fold outstanding LSM update segments; returns the number of
        segments folded.  Default = FULL fold into the base tables (zero
        read amplification, O(base) cost — delta_store.compact_index);
        ``tiered=True`` = merge the oldest half into one segment instead
        (cost ∝ delta, base untouched — delta_store.merge_segments, the
        steady-state choice).  No-op when the index has no segments."""
        from bm25_index_tool_spark.delta_store import (
            compact_index,
            merge_segments,
            segment_ids,
        )

        self._require(name)
        if tiered:
            n = merge_segments(self.spark, self._index_dir(name))
        else:
            n = len(segment_ids(self._index_dir(name)))
            compact_index(self.spark, self._index_dir(name))
        self._drop_open(name)
        self.cache.clear()
        return n

    def delete_index(self, name: str) -> None:
        reg = self._read_registry()
        if name not in reg:
            raise ValueError(f"Index '{name}' not found")
        from bm25_index_tool_spark.delta_store import (
            invalidate_stored_projection,
            write_lock,
        )

        # take the write lock before ANY mutation: a writer in another
        # process mid-commit must finish (or time out) first — rmtree under
        # its feet would tear half-committed state, and unregistering
        # before a lock timeout would strand a live data dir with no
        # registry entry (undeletable, and a later same-name create would
        # compose its stale segments into the new index).  The sibling
        # lock FILE is deliberately left behind: unlinking it (even while
        # held) lets the next build_index open a FRESH inode while a
        # queued waiter still holds the old one — two concurrent
        # "exclusive" writers.  A few stale bytes beat that. (ADVICE r04)
        with write_lock(self._index_dir(name)):
            self._registry_txn(lambda r: r.pop(name, None))
            self._drop_open(name)
            invalidate_stored_projection(self._index_dir(name))
            shutil.rmtree(self._index_dir(name), ignore_errors=True)
        self.cache.clear()

    def list_indices(self) -> list[dict]:
        return [v for _, v in sorted(self._read_registry().items())]

    def stats(self, name: str) -> dict:
        """Reference ``commands/stats.py`` counters as DataFrame aggregates."""
        from pyspark.sql import functions as F

        idx = self._require(name)
        docs = idx.docs()
        agg = docs.agg(
            F.count("*").alias("n"), F.sum("size").alias("total_size")
        ).collect()[0]
        by_lang = {
            r["lang"]: r["count"]
            for r in docs.groupBy("lang").count().orderBy(F.desc("count"), "lang").collect()
        }
        # reference stats "document_types": GROUP BY mime_type ORDER BY
        # count DESC (commands/stats.py:116-133)
        by_mime = {
            r["mime_type"]: r["count"]
            for r in docs.groupBy("mime_type")
            .count()
            .orderBy(F.desc("count"), "mime_type")
            .collect()
        }
        n_terms = idx.termstats().count()
        return {
            "name": name,
            "document_count": agg["n"],
            "total_size": agg["total_size"],
            "by_lang": by_lang,
            "by_mime": by_mime,
            "distinct_terms": n_terms,
            "avgdl": idx.manifest.avgdl,
            "num_buckets": idx.manifest.num_buckets,
        }

    def info(self, name: str) -> dict:
        """Per-index metadata detail view (reference ``commands/info.py:
        21-165``): registry entry + manifest (params, tokenizer, location)
        + vector-store metadata when present.  Metadata-only — no Spark
        jobs (the reference reads only the registry here too)."""
        reg = self._read_registry()
        if name not in reg:
            raise ValueError(f"Index '{name}' not found")
        idx_dir = self._index_dir(name)
        m = B.load_manifest(idx_dir)
        out = {
            "name": name,
            "location": idx_dir,
            "created_at": m.created_at,
            "file_count": m.num_docs,
            "avgdl": m.avgdl,
            "num_buckets": m.num_buckets,
            # index format and commit counter: each commit moves the
            # generation, so an operator can see that a write landed
            "format": m.index_version,
            "generation": m.generation,
            # outstanding LSM update segments awaiting compaction (0 = fully
            # compacted base; see delta_store.py)
            "update_segments": self._segment_count(idx_dir),
            "bm25_params": dict(m.params.__dict__),
            "tokenization": {
                "profile": m.tokenizer_profile,
                "stemmer": None,  # unicode61 has no stemmer (reference parity)
                "stopwords": "related-terms only (78-word reference set)",
            },
            "source": m.source,
            "engines": {
                "join": True,
                "blocks": os.path.exists(os.path.join(idx_dir, B.BLOCKS_DIR)),
            },
        }
        if os.path.exists(os.path.join(idx_dir, "vector")):
            from bm25_index_tool_spark.vector import (
                _ann_fresh,
                _load_ann_meta,
                _load_vector_meta,
            )

            vm = _load_vector_meta(idx_dir)
            out["vector_metadata"] = {
                "embedding_model": vm["embedder"],
                "dimensions": vm["dim"],
            }
            ann = _load_ann_meta(idx_dir)
            if ann is not None:
                out["vector_metadata"]["ann"] = {
                    "m": ann.get("m"),
                    "quantizer": ann.get("quantizer"),
                    "nprobe_default": ann.get("nprobe_default"),
                    # estimated recall@10 at the default nprobe, measured
                    # on the quantizer's training sample at build time
                    "expected_recall_at_default": ann.get(
                        "expected_recall_at_default"
                    ),
                    # tiered-merge fold dirs currently serving the probe
                    "absorbed_folds": ann.get("absorbed") or [],
                    # stale ⇒ auto falls back to the exact scan until
                    # build_vector_ann is re-run (full compaction does this)
                    "fresh": _ann_fresh(ann, vm),
                }
        return out

    # -- search --------------------------------------------------------------

    def explain_search(
        self,
        name: str,
        query: str,
        top_k: int = 10,
        *,
        engine: str = "auto",
        mode: str = "formatted",
    ) -> str:
        """The compiled physical plan for EXACTLY the DataFrame ``search``
        would execute (auto engine resolution included), without running
        it.  Plan transparency is how this engine is audited at scale —
        the bucket-pruned scan, broadcast joins and TakeOrderedAndProject
        are the contract (PLANS.md); this surfaces the same evidence for
        any live index + query.  ``mode``: formatted | simple | extended |
        cost | codegen (Spark ExplainMode)."""
        idx = self._require(name)
        if engine == "auto":
            from bm25_index_tool_spark.wand import choose_engine

            engine = choose_engine(
                self._index_dir(name),
                df_threshold=self.config.extras.get("wand_df_threshold"),
            )
        if engine == "blocks":
            from bm25_index_tool_spark.wand import wand_search

            df = wand_search(idx, query, top_k)
        else:
            df = score_query(idx, query, top_k, include_content=False)
        plan = df._jdf.queryExecution().explainString(
            self.spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                mode
            )
        )
        return f"-- engine: {engine}\n{plan}"

    @traced("client.search")
    def search(
        self,
        name: str,
        query: str,
        top_k: int = 10,
        *,
        include_content: bool = False,
        fragments: bool = False,
        context_lines: int = 3,
        path_filter: list[str] | None = None,
        exclude_path: list[str] | None = None,
        use_cache: bool = True,
        engine: str = "auto",
    ) -> list[dict[str, Any]]:
        """Single-index search returning result dicts (reference
        ``BM25Client.search`` shape: path, name, score[, content,
        fragments]).  Cache is bypassed when fragments or path filters are
        active — reference ``api.py:277`` behavior.

        ``engine``: 'auto' (default — pick from the index's recorded
        max-df vs the WAND crossover, wand.choose_engine; resolves to
        'join' without a block store), 'join' (plan 1), or 'blocks'
        (block-max WAND over the compressed block store; requires
        build_block_engine).  Both engines are rank-identical, so the
        choice is purely cost."""
        # the index version rides in the cache key: a hit cached before ANY
        # writer's commit — this process or another — can never be served
        # afterwards (in-process clears in update/compact/delete remain as
        # memory hygiene, but correctness no longer depends on them).  Read
        # first, so an index of another format is refused before any file
        # of it is read.
        version_token = self._index_version(name)
        if engine == "auto":
            from bm25_index_tool_spark.wand import choose_engine

            engine = choose_engine(
                self._index_dir(name),
                df_threshold=self.config.extras.get("wand_df_threshold"),
            )
        pf = PathFilter(path_filter or [], exclude_path or [])
        cacheable = use_cache and not fragments and pf.is_empty()
        # include_content is part of the key: cached rows only carry
        # 'content' when it was requested, so a content-less hit must not
        # serve a later include_content=True call (ADVICE r01)
        key = SearchCache.make_key(
            [name], query, top_k,
            {
                "engine": engine,
                "include_content": include_content,
                "index_version": version_token,
            },
        )
        if cacheable:
            hit = self.cache.get(key)
            if hit is not None:
                return hit

        t0 = time.monotonic()
        need_content = include_content or fragments

        def _rows():
            idx = self._require(name)
            if engine == "blocks":
                from bm25_index_tool_spark.wand import wand_search

                base = wand_search(idx, query, top_k)
                if need_content:
                    # ≤k winners fetch content via the ONE shared
                    # broadcast+DPP fetch (VERDICT r04 #3; the widest
                    # column's scan reads ≤k partitions)
                    from bm25_index_tool_spark.score import (
                        fetch_winner_docs,
                    )

                    base = (
                        fetch_winner_docs(idx, base, ["content"])
                        .orderBy(F.desc("score"), F.asc("doc_id"))
                        .limit(top_k)
                    )
                return base.collect()
            return score_query(
                idx, query, top_k, include_content=need_content
            ).collect()

        rows = self._run_with_reopen([name], _rows)
        results = []
        for r in rows:
            d: dict[str, Any] = {
                "document_id": r["doc_id"],
                "path": r["path"],
                "name": r["filename"],
                "score": r["score"],
                "content_sha256": r["content_sha256"],
            }
            if include_content:
                d["content"] = r["content"]
            if fragments:
                # reference uses raw query.split() terms for fragment
                # highlighting (core/searcher.py:60), not FTS tokens
                d["fragments"] = extract_fragments(
                    r["content"], query.split(), context_lines=context_lines
                )
            results.append(d)

        # post-top-k path filtering (can shrink below k — reference P1)
        results = pf.filter_rows(results)
        elapsed = time.monotonic() - t0
        self.history.log(
            [name], query, top_k, len(results), elapsed,
            path_filter, exclude_path,
        )
        if cacheable and self._index_version(name) == version_token:
            # only cache when the index version is STILL the one embedded
            # in the key: a commit landing between key construction and
            # collect would otherwise store post-commit rows under the
            # pre-commit token and serve mixed-version results (ADVICE r04)
            self.cache.set(key, results)
        return results

    def search_multi(
        self,
        names: list[str],
        query: str,
        top_k: int = 10,
        *,
        merge_strategy: str = "rrf",
        merge_params: dict | None = None,
    ) -> list[dict[str, Any]]:
        """Multi-index fused search (reference ``core/searcher.py:97-160``):
        per-index over-fetch ``fetch_k = max(100, 3*top_k)``, silently skip
        failing indices, fuse with the chosen strategy."""
        fetch_k = fusion.fetch_k_for(top_k)
        # validate the QUERY up front: the per-index except below is for
        # skipping failing INDICES; without this, an unsearchable query's
        # tokenize ValueError was swallowed for every index and [] returned
        # where single-index search() raises (code-review r05)
        from bm25_index_tool_spark.tokenize import tokenize_fts5_query

        tokenize_fts5_query(query)

        def _rows():
            per_index = []
            for n in names:
                try:
                    idx = self._require(n)
                    df = score_query(idx, query, fetch_k, include_content=False)
                    per_index.append(
                        df.select("doc_id", "path", "filename", "score")
                    )
                except ValueError:
                    # reference silently skips failing indices (:147-149)
                    continue
            if not per_index:
                return None
            return fusion.merge(
                merge_strategy, per_index, top_k, **(merge_params or {})
            ).collect()

        rows = self._run_with_reopen(list(names), _rows)
        if rows is None:
            return []
        return [
            {
                "path": r["path"],
                "name": r["filename"],
                "score": r["score"],
                "document_id": r["doc_id"],
            }
            for r in rows
        ]

    def build_vector_ann(self, name: str, *, m: int = 64, **kw) -> dict:
        """Materialize the IVF-Flat ANN index over the index's chunk-vector
        store (the 100-TB semantic-search path; vector.build_vector_ann).
        Re-run after compact_index — search falls back to the exact scan
        while the index is stale."""
        from bm25_index_tool_spark.vector import build_vector_ann

        self._require(name)
        return build_vector_ann(self.spark, self._index_dir(name), m=m, **kw)

    def search_semantic(
        self,
        name: str,
        query: str,
        top_k: int = 10,
        *,
        method: str = "auto",
        nprobe: int | None = None,
    ) -> list[dict[str, Any]]:
        """Chunk-level semantic search (reference ``VectorSearcher.search``,
        ``vector/searcher.py:40-120``): top_k*3 best chunks → per-document
        best-chunk dedupe → top_k.  Result dicts mirror the reference's
        (path, score, chunk_text, chunk_index, chunk_type).

        ``method='auto'`` probes the materialized ANN index when one is
        fresh (build_vector_ann), else exact-scans the live view."""
        from bm25_index_tool_spark.vector import semantic_search_index

        def _rows():
            self._require(name)
            return semantic_search_index(
                self.spark, self._index_dir(name), query, top_k,
                method=method, nprobe=nprobe,
            ).collect()

        rows = self._run_with_reopen([name], _rows)
        return [
            {
                "path": r["path"],
                "score": r["score"],
                "chunk_text": r["chunk_text"],
                "chunk_index": r["chunk_index"],
                "chunk_type": "text",
            }
            for r in rows
        ]

    def search_semantic_multi(
        self,
        names: list[str],
        query: str,
        top_k: int = 10,
        *,
        method: str = "auto",
    ) -> list[dict[str, Any]]:
        """Multi-index semantic search (reference ``VectorSearcher.
        search_multi``, ``vector/searcher.py:120-150``): per-index top_k,
        tag each result with index_name, merge by score desc, limit top_k.
        Indices without a vector store are skipped with no error — the
        reference logs and continues.  ``method`` is per-index: each index
        with a fresh ANN index probes it, the rest exact-scan."""
        out: list[dict[str, Any]] = []
        for n in names:
            try:
                rows = self.search_semantic(n, query, top_k, method=method)
            except ValueError:
                continue  # missing index / no vector store — skip
            for r in rows:
                r["index_name"] = n
            out.extend(rows)
        out.sort(key=lambda r: -r["score"])
        return out[:top_k]

    def search_related(
        self, name: str, source_path: str, top_k: int = 10
    ) -> list[dict[str, Any]]:
        rows = self._run_with_reopen(
            [name],
            lambda: _search_related(
                self._require(name), source_path, top_k
            ).collect(),
        )
        return [
            {
                "path": r["path"],
                "name": r["filename"],
                "score": r["score"],
                "document_id": r["doc_id"],
            }
            for r in rows
        ]

    def batch_search(
        self, name: str, queries: list[str], top_k: int = 10
    ) -> DataFrame:
        """Set-at-a-time batch: ONE Spark job for all queries (SURVEY §2.9
        C3) — returns the (query_id, query, doc_id, path, score, rank)
        DataFrame; callers may collect or write JSONL via ``.write.json``.
        The frame is lazy — a full compaction racing its action can fail
        the scan; use :meth:`batch_search_rows` for the retried collect."""
        idx = self._require(name)
        return score_query_batch(idx, queries, top_k)

    def batch_search_rows(
        self, name: str, queries: list[str], top_k: int = 10
    ) -> list:
        """batch_search + collect under the same stale-scan retry as every
        other search path (_run_with_reopen): a concurrent full
        compaction's base swap retries instead of crashing the batch
        (code-review r05)."""
        return self._run_with_reopen(
            [name],
            lambda: score_query_batch(
                self._require(name), queries, top_k
            ).collect(),
        )
