"""Chunking (SURVEY.md §2.2, C1-C4) — fully JVM-side, no UDF.

The reference TokenChunker (/root/reference/agraph/chunker.py:63-234)
recursively splits on separators to <= chunk_size tiktoken tokens with
overlap; SimpleTokenChunker (chunker.py:287-360) approximates 1 token ~
0.75 words. tiktoken is not available here, so the engine implements the
word-approximation semantics (C2): fixed-size sliding word windows with
overlap, expressed as sequence/transform/slice column operations that stay
inside whole-stage codegen — at 100 TB the chunker is a pure map stage with
zero Python and zero shuffle.

Chunk typing follows LLMGraphUtils.create_text_chunks
(llm_builders.py:720-768): a document that fits one window is a single
"document" chunk; larger ones become "chunk" rows with start/end word
offsets.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

DEFAULT_CHUNK_SIZE = 512  # tokens (config.py:122-127 settings default)
DEFAULT_OVERLAP = 100
WORDS_PER_TOKEN = 0.75  # chunker.py:299 approximation


def chunk_documents(
    documents: DataFrame,
    chunk_size: int = DEFAULT_CHUNK_SIZE,
    overlap: int = DEFAULT_OVERLAP,
) -> DataFrame:
    """(conv_id, text) -> chunk rows (chunk_id, conv_id, chunk_idx, content,
    chunk_type, start_index, end_index, token_count).

    Window size in words = chunk_size * 0.75; stride = size - overlap*0.75.
    """
    size_w = max(1, int(chunk_size * WORDS_PER_TOKEN))
    step_w = max(1, size_w - int(overlap * WORDS_PER_TOKEN))

    from .textstats import pystrip

    # stripped text, word array and word count are projected once per
    # document: referenced inside the transform lambda they would be
    # re-evaluated (strip + split) for every chunk
    docs = (
        documents.select("conv_id", pystrip(F.col("text")).alias("stripped"))
        .select("conv_id", "stripped", F.split("stripped", r"(?U)\s+").alias("words"))
        .select(
            "conv_id", "words",
            F.when(F.length("stripped") == 0, 0).otherwise(F.size("words")).alias("n_words"),
        )
    )
    words, n_words = F.col("words"), F.col("n_words")
    n_chunks = F.when(n_words <= size_w, F.lit(1)).otherwise(
        F.ceil((n_words - size_w) / F.lit(step_w)) + 1
    )
    chunks = F.transform(
        F.sequence(F.lit(0), n_chunks.cast("int") - 1),
        lambda i: F.struct(
            i.cast("int").alias("chunk_idx"),
            F.concat_ws(" ", F.slice(words, i * step_w + 1, size_w)).alias("content"),
            (i * step_w).cast("int").alias("start_index"),
            F.least(i * step_w + size_w, n_words).cast("int").alias("end_index"),
            F.size(F.slice(words, i * step_w + 1, size_w)).alias("n_chunk_words"),
        ),
    )
    out = (
        # a blank (or null) document explodes a null array: no rows. A
        # where(n_words > 0) would be pushed below the projections and
        # strip and split every document once more
        docs.select("conv_id", n_chunks.alias("n_chunks"),
                    F.explode(F.when(n_words > 0, chunks)).alias("c"))
        .select(
            F.md5(F.concat_ws("|", "conv_id", F.col("c.chunk_idx"))).alias("chunk_id"),
            "conv_id",
            F.col("c.chunk_idx").alias("chunk_idx"),
            F.col("c.content").alias("content"),
            F.when(F.col("n_chunks") == 1, "document").otherwise("chunk").alias("chunk_type"),
            F.col("c.start_index").alias("start_index"),
            F.col("c.end_index").alias("end_index"),
            F.ceil(F.col("c.n_chunk_words") / WORDS_PER_TOKEN).cast("int").alias("token_count"),
        )
    )
    return out


def link_chunks_to_entities(chunks: DataFrame, entities: DataFrame) -> DataFrame:
    """G3: chunk links to an entity when the entity name (or alias) is a
    substring of lower(content) (llm_builders.py:770-812). Per-conversation
    equi-join + containment predicate."""
    big = chunks.select("chunk_id", "conv_id", F.lower(F.col("content")).alias("content_l"))
    return (
        big.join(entities.select("conv_id", "name_norm"), "conv_id")
        .where(F.instr(F.col("content_l"), F.col("name_norm")) > 0)
        .select("chunk_id", "conv_id", "name_norm")
    )


def link_chunks_to_relations(chunk_entity_links: DataFrame, triples: DataFrame) -> DataFrame:
    """G3 relation side: chunk links to a relation when BOTH endpoint names
    are contained in the chunk (llm_builders.py:795-806) — two semi-joins
    against the chunk-entity link table."""
    heads = chunk_entity_links.select("chunk_id", F.col("name_norm").alias("subj"))
    tails = chunk_entity_links.select("chunk_id", F.col("name_norm").alias("obj"))
    return (
        triples.select("conv_id", "subj", "pred", "obj")
        .join(heads, "subj")
        .join(tails, ["chunk_id", "obj"])
        .select("chunk_id", "conv_id", "subj", "pred", "obj")
    )


# ---------------------------------------------------- C1 separator fidelity

# TokenChunker defaults (chunker.py:21, config.py:122-127)
SEPARATORS = ["\n\n", "\n", ". ", "! ", "? ", " ", ""]


def _char_pack(text: str, limit: int, count) -> list[str]:
    """Last-resort char accumulation (chunker.py:174-200)."""
    out, cur = [], ""
    for ch in text:
        if count(cur + ch) <= limit:
            cur += ch
        else:
            if cur:
                out.append(cur)
            cur = ch
    if cur:
        out.append(cur)
    return out


def _pack_parts(text: str, seps: list[str], limit: int, count) -> list[str]:
    """Greedy packing shared by the top level and the recursion
    (chunker.py:63-172): re-attach the separator to all but the last part,
    accumulate while <= limit, strip on emit; an oversize single part
    descends to the next separator level."""
    if not seps:
        return _char_pack(text, limit, count)
    sep, rest = seps[0], seps[1:]
    if sep == "":
        return _char_pack(text, limit, count)
    parts = text.split(sep)
    if len(parts) <= 1:
        # top level tries the next separator against the WHOLE text
        return _pack_parts(text, rest, limit, count)
    out, cur = [], ""
    for i, part in enumerate(parts):
        if i < len(parts) - 1:
            part += sep
        if count(cur + part) <= limit:
            cur += part
            continue
        if cur.strip():
            out.append(cur.strip())
        if count(part) > limit:
            out.extend(_pack_parts(part, rest, limit, count))
            cur = ""
        else:
            cur = part
    if cur.strip():
        out.append(cur.strip())
    return out


def _add_overlaps(chunks: list[str], overlap: int, limit: int, count, suffix) -> list[str]:
    """Prefix each chunk (after the first) with the last ``overlap`` tokens
    of its predecessor, kept only while the combination stays <= limit +
    overlap (chunker.py:201-257)."""
    if len(chunks) <= 1 or overlap == 0:
        return chunks
    out = [chunks[0]]
    for prev, cur in zip(chunks, chunks[1:]):
        combined = suffix(prev, overlap) + cur
        out.append(combined if count(combined) <= limit + overlap else cur)
    return out


def split_text_hierarchical(
    text: str, chunk_size: int, overlap: int, encoding
) -> list[str]:
    """Reference TokenChunker.split_text semantics (chunker.py:63-257),
    re-expressed: separator-hierarchy greedy packing + token-suffix overlap.
    ``encoding`` provides encode/decode (tiktoken when installed;
    refload.FakeSegmentEncoding in this container)."""

    def count(t: str) -> int:
        return len(encoding.encode(t))

    def suffix(t: str, k: int) -> str:
        toks = encoding.encode(t)
        return t if len(toks) <= k else str(encoding.decode(toks[-k:]))

    chunks = _pack_parts(text, SEPARATORS, chunk_size, count)
    chunks = _add_overlaps(chunks, overlap, chunk_size, count, suffix)
    return [c for c in chunks if c.strip()]


def split_text_simple(text: str, chunk_size: int) -> list[str]:
    """Reference SimpleTokenChunker.split_text semantics (chunker.py:
    287-360): word-approx token count (words / 0.75), first productive
    separator only, NO recursion into oversize parts, no overlap."""
    import re as _re

    def count(t: str) -> int:
        return int(len(_re.findall(r"\b\w+\b", t)) / 0.75)

    for sep in ["\n\n", "\n", ". ", "! ", "? ", " "]:
        parts = text.split(sep)
        if len(parts) <= 1:
            continue
        out, cur = [], ""
        for i, part in enumerate(parts):
            if i < len(parts) - 1:
                part += sep
            if count(cur + part) <= chunk_size:
                cur += part
            else:
                if cur.strip():
                    out.append(cur.strip())
                cur = part
        if cur.strip():
            out.append(cur.strip())
        return [c for c in out if c.strip()]
    return []


def token_chunk_documents(
    documents: DataFrame,
    chunk_size: int = DEFAULT_CHUNK_SIZE,
    overlap: int = DEFAULT_OVERLAP,
    mode: str = "hierarchical",
) -> DataFrame:
    """C1 with reference-exact boundaries: (conv_id, text) -> chunk rows via
    a mapInPandas kernel (the recursive separator walk is inherently
    per-document Python; it runs once per Arrow batch, vectorized over the
    batch's documents — never per-row through the serializer).

    mode="hierarchical": TokenChunker semantics (tiktoken when installed,
    else the deterministic segment encoding). mode="simple":
    SimpleTokenChunker word-approx semantics. The pure-column word-window
    chunker (chunk_documents) remains the zero-Python scale path."""
    from collections.abc import Iterator

    import pandas as pd

    if overlap >= chunk_size:
        # chunker.py:36-38 — the reference refuses this configuration
        raise ValueError("chunk_overlap must be less than chunk_size")
    if mode == "hierarchical":
        try:
            import tiktoken

            enc = tiktoken.get_encoding("cl100k_base")
        except ImportError:
            from ..refload import FakeSegmentEncoding

            enc = FakeSegmentEncoding()

        def split(t: str) -> list[str]:
            return split_text_hierarchical(t, chunk_size, overlap, enc)
    else:

        def split(t: str) -> list[str]:
            return split_text_simple(t, chunk_size)

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if len(pdf) == 0:
                continue
            rows = []
            for conv_id, text in zip(pdf["conv_id"], pdf["text"]):
                pieces = split(text or "")
                n = len(pieces)
                for i, c in enumerate(pieces):
                    rows.append((conv_id, i, c, "document" if n == 1 else "chunk"))
            if rows:
                yield pd.DataFrame(rows, columns=["conv_id", "chunk_idx", "content", "chunk_type"])

    out = documents.select("conv_id", "text").mapInPandas(
        kernel, schema="conv_id string, chunk_idx int, content string, chunk_type string"
    )
    return out.select(
        F.md5(F.concat_ws("|", "conv_id", "chunk_idx")).alias("chunk_id"),
        "conv_id", "chunk_idx", "content", "chunk_type",
    )
