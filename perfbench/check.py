"""Output checks. Each checker takes plain Python rows, so the self-tests
can feed it a deliberately corrupted output, and returns the list of
problems it found (empty when the output is right)."""

from __future__ import annotations

import hashlib
from collections import defaultdict


def digest(rows) -> str:
    """Order-independent digest of an output: sha256 over sorted reprs."""
    h = hashlib.sha256()
    for r in sorted(repr(tuple(r)) for r in rows):
        h.update(r.encode())
    return h.hexdigest()


def check_ingest(rows: list[dict], expected: dict[str, list[tuple[str, str]] | None],
                 embed_dim: int) -> dict[str, str]:
    """``rows``: output rows with filename, doc_id, element_index, type,
    text, embeddings. ``expected``: file name -> its (type, text) chunks
    from the single-process path, or None for a planted corrupt file.
    Returns file name -> what is wrong with that document's output."""
    by_file: dict[str, list[dict]] = defaultdict(list)
    for r in rows:
        by_file[r["filename"]].append(r)
    bad: dict[str, str] = {}
    for name in by_file.keys() - expected.keys():
        bad[name] = "output rows for a file that was not in the input"
    doc_ids: dict[str, str] = {}
    for name, want in expected.items():
        got = sorted(by_file.get(name, []), key=lambda r: r["element_index"])
        ids = {r["doc_id"] for r in got}
        if len(ids) > 1:
            bad[name] = f"rows carry {len(ids)} doc_ids"
            continue
        if ids:
            doc_ids[name] = ids.pop()
        if want is None:
            if len(got) != 1 or got[0]["type"] != "Error":
                bad[name] = f"corrupt file gave {len(got)} rows, not one Error row"
            continue
        if not got:
            bad[name] = "intact document gave no rows"
        elif [r["element_index"] for r in got] != list(range(len(got))):
            bad[name] = "element_index is not 0..n-1"
        elif [(r["type"], r["text"]) for r in got] != want:
            bad[name] = "chunks differ from the single-process partition + chunk_by_title"
        elif any(r["embeddings"] is None or len(r["embeddings"]) != embed_dim for r in got):
            bad[name] = f"a chunk lacks a {embed_dim}-dim embedding"
    if len(set(doc_ids.values())) != len(doc_ids):
        for name in doc_ids:
            bad.setdefault(name, "two files share a doc_id")
    return bad


def check_corpus(placements: list[dict], texts: dict[int, str], sources: dict[int, str],
                 must_drop: set[int], token_budget: int, pack_tokens: int) -> dict[str, list]:
    """``placements``: (doc_id, seq_id, doc_token_start, doc_token_end,
    seq_token_start) rows of the packed output. Returns problem -> the
    doc or sequence ids it concerns."""
    bad: dict[str, list] = {}
    kept = {p["doc_id"] for p in placements}
    stray = sorted(kept - texts.keys())
    if stray:
        bad["unknown doc_id in output"] = stray
    left = sorted(kept & must_drop)
    if left:
        bad["planted duplicate, contaminated or low-quality doc kept"] = left
    owner: dict[str, int] = {}
    clash = []
    for d in sorted(kept & texts.keys()):
        md5 = hashlib.md5(texts[d].encode()).hexdigest()
        if md5 in owner:
            clash.append(d)
        owner.setdefault(md5, d)
    if clash:
        bad["two kept docs share an md5"] = clash
    per_source: dict[str, int] = defaultdict(int)
    per_seq: dict[int, int] = defaultdict(int)
    for p in placements:
        n = p["doc_token_end"] - p["doc_token_start"]
        per_source[sources.get(p["doc_id"], "?")] += n
        per_seq[p["seq_id"]] += n
    over = sorted(s for s, n in per_source.items() if n > token_budget)
    if over:
        bad["source over its token budget"] = over
    full = sorted(s for s, n in per_seq.items() if n > pack_tokens)
    if full:
        bad["packed sequence over pack_tokens"] = full
    return bad


def check_stream(sink: list[tuple], batch: list[tuple], files: list[str],
                 history_texts: set[str]) -> dict[str, str]:
    """``sink`` and ``batch``: (doc_id, element_index, type, text) rows
    of the streaming sink and of the batch path over the same files and
    index; doc_id is the file's path. ``files``: the name of every
    dropped file. Returns file name (or "*") -> problem."""
    bad: dict[str, str] = {}
    if sorted(sink) != sorted(batch):
        bad["*"] = "sink rows differ from the batch path's rows"
    docs = {r[0].rsplit("/", 1)[-1] for r in sink}
    for f in files:
        if f not in docs:
            bad[f] = "document has no rows in the sink"
    for r in sink:
        if r[3] in history_texts:
            bad[r[0].rsplit("/", 1)[-1]] = "a chunk duplicating history reached the sink"
    return bad
