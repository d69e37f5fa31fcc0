"""Result formatters (SURVEY.md §2.1 S6) — mirror of the reference's
simple/json output modes (reference ``core/formatters.py:40-241``; the
`rich` table mode is rendered as aligned plain text here, no third-party
dependency).  Batch results emit JSONL like the reference's batch command.
"""

from __future__ import annotations

import json
from typing import Any

CONTENT_TRUNCATE = 500


def _content_with_lines(content: str, max_length: int | None) -> str:
    """Reference ``_format_content_with_lines`` (core/formatters.py:16-37):
    optional truncation with a '... (truncated, N more characters)' trailer,
    then 4-wide line numbers."""
    lines = content.splitlines()
    if max_length is not None and len(content) > max_length:
        lines = content[:max_length].splitlines()
        lines.append(f"... (truncated, {len(content) - max_length} more characters)")
    return "\n".join(f"{i + 1:4d} | {line}" for i, line in enumerate(lines))


def format_simple(results: list[dict[str, Any]], query: str = "") -> str:
    if not results:
        return "No results found."
    lines = []
    for i, r in enumerate(results, start=1):
        lines.append(f"{i}. {r['path']}  (score: {r['score']:.4f})")
        for frag in r.get("fragments", []) or []:
            lines.append(
                f"   L{frag['line_start']}-{frag['line_end']}: "
                + " / ".join(frag["lines"][:2])
            )
        content = r.get("content")
        if content:
            lines.append("   Content:")
            for ln in _content_with_lines(content, CONTENT_TRUNCATE).splitlines():
                lines.append(f"   {ln}")
    return "\n".join(lines)


def format_json(results: list[dict[str, Any]], query: str = "") -> str:
    out = []
    for r in results:
        d = dict(r)
        content = d.get("content")
        if content is not None and len(content) > CONTENT_TRUNCATE:
            # reference json formatter marks truncation instead of appending
            # "..." (core/formatters.py:147-154)
            d["content"] = content[:CONTENT_TRUNCATE]
            d["content_truncated"] = True
        out.append(d)
    return json.dumps({"query": query, "results": out}, indent=2)


def format_table(results: list[dict[str, Any]], query: str = "") -> str:
    if not results:
        return "No results found."
    wpath = max(len(r["path"]) for r in results)
    header = f"{'#':>3}  {'path':<{wpath}}  {'score':>10}"
    rows = [header, "-" * len(header)]
    for i, r in enumerate(results, start=1):
        rows.append(f"{i:>3}  {r['path']:<{wpath}}  {r['score']:>10.4f}")
    return "\n".join(rows)


def format_batch_jsonl(
    batch_rows: list[dict[str, Any]], queries: list[str] | None = None
) -> str:
    """One JSON object per query (reference batch JSONL shape).  When the
    original query list is given, queries with no matches (or that failed
    to tokenize) still emit a line with empty results — reference behavior
    (``batch_query.py:90-92`` maps failures to empty results)."""
    by_query: dict[int, dict] = {}
    if queries is not None:
        for qid, q in enumerate(queries):
            by_query[qid] = {"query_id": qid, "query": q, "results": []}
    for r in batch_rows:
        q = by_query.setdefault(
            r["query_id"], {"query_id": r["query_id"], "query": r.get("query"), "results": []}
        )
        q["results"].append(
            {"doc_id": r["doc_id"], "path": r["path"], "score": r["score"], "rank": r["rank"]}
        )
    return "\n".join(json.dumps(by_query[k]) for k in sorted(by_query))


def format_semantic(results: list[dict[str, Any]], query: str = "") -> str:
    """Semantic search results: best chunk per document (reference
    ``commands/query.py`` semantic output shape)."""
    if not results:
        return "No results found."
    lines = []
    for i, r in enumerate(results, start=1):
        lines.append(f"{i}. {r['path']}  (score: {r['score']:.4f})")
        snippet = (r.get("chunk_text") or "")[:120].replace("\n", " ")
        lines.append(f"   chunk {r['chunk_index']}: {snippet}")
    return "\n".join(lines)


def format_info(meta: dict[str, Any]) -> str:
    """Human-readable index detail (reference ``commands/info.py:75-120``)."""
    p = meta["bm25_params"]
    lines = [
        f"Index: {meta['name']}",
        f"Location: {meta['location']}",
        f"Created: {meta['created_at']}",
        f"Files: {meta['file_count']:,}",
        f"Buckets: {meta['num_buckets']}",
        f"Format: {meta['format']}  (generation {meta['generation']})",
        f"Update segments: {meta.get('update_segments', 0)}"
        + ("  (run `compact` to fold)" if meta.get("update_segments") else ""),
        "",
        "BM25 Parameters:",
        f"  k1: {p['k1']}",
        f"  b: {p['b']}",
        "",
        "Tokenization:",
        f"  Profile: {meta['tokenization']['profile']}",
        f"  Stemmer: {meta['tokenization']['stemmer'] or 'disabled'}",
        f"  Stopwords: {meta['tokenization']['stopwords']}",
        "",
        "Engines:",
        f"  join: yes",
        f"  blocks: {'yes' if meta['engines']['blocks'] else 'no'}",
    ]
    vm = meta.get("vector_metadata")
    if vm:
        lines += [
            "",
            "Vector Search:",
            f"  Model: {vm['embedding_model']}",
            f"  Dimensions: {vm['dimensions']}",
        ]
    return "\n".join(lines)


FORMATTERS = {"simple": format_simple, "json": format_json, "table": format_table}
