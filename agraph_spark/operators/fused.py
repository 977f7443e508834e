"""Fused per-document extraction kernel: E1 + E2 + E3 + D1 + E5 + E6 + E7
+ E9 + D11 in ONE mapInPandas pass.

Why fused: mention detection, confidence scoring, keyword extraction,
first-seen-wins dedup, endpoint resolution, sentence co-occurrence,
relation validation and the per-conversation triple dedup are all strictly
per-conversation — expressing them as global shuffles and conv_id joins
moves many times the input volume through the shuffle for work that never
crosses a document boundary. In the kernel the intermediates never leave
the task. Only genuinely cross-conversation operators (node/edge merge,
entity linking, connected components) remain Spark-side.

Entity and candidate extraction is vectorized pandas (str.extractall per
pattern per batch, groupby aggregations); the relation steps loop per
conversation, as the reference does per document. This kernel is the
library's one extraction implementation: ``pipeline.build_kg`` (transcripts)
and ``pipeline.build_kg_from_texts`` (one-row documents) both explode its
output. tests/test_parity_reference.py holds it to exact reference parity,
and tests/test_kernel_equivalence.py holds its entities and triples to the
tests' join-form oracle (Spark forms of E2/E3/D1 and the relations.py
joins over this kernel's own regex steps).
"""

from __future__ import annotations

import bisect
import itertools
import re
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame

from .. import patterns as P

_ENT_COLS = ["conv_id", "name", "name_norm", "entity_type", "confidence", "entity_order"]


def _empty() -> pd.DataFrame:
    return pd.DataFrame(
        {
            "conv_id": pd.Series(dtype=object),
            "name": pd.Series(dtype=object),
            "name_norm": pd.Series(dtype=object),
            "entity_type": pd.Series(dtype=object),
            "confidence": pd.Series(dtype=float),
            "entity_order": pd.Series(dtype="int64"),
        }
    )


def _mentions_frame(texts: pd.Series, conv: pd.Series) -> pd.DataFrame:
    """E1: all pattern mentions with emission-order seq
    (entity_extractor.py:202-240)."""
    outs = []
    for ti, etype, pi, rx in P.compiled_entity_patterns():
        m = texts.str.extractall(rx)
        if m.empty:
            continue
        names = m[0].str.strip()
        keep = names.str.len() >= 2
        if not keep.any():
            continue
        names = names[keep]
        idx = names.index
        base = (ti * 100 + pi) * 1_000_000
        outs.append(
            pd.DataFrame(
                {
                    "conv_id": conv.loc[idx.get_level_values(0)].to_numpy(),
                    "name": names.to_numpy(),
                    "entity_type": etype,
                    "seq": base + idx.get_level_values(1).to_numpy(),
                }
            )
        )
    if not outs:
        return pd.DataFrame(columns=["conv_id", "name", "entity_type", "seq"])
    return pd.concat(outs, ignore_index=True)


def _confidence(names: pd.Series) -> pd.Series:
    """E2 vectorized (entity_extractor.py:127-154); str[0].str.isupper()
    matches Python's isupper exactly."""
    conf = (
        0.5
        + (names.str.len() > 1) * 0.1
        + (names.str.len() > 3) * 0.1
        + names.str[0].str.isupper().fillna(False).astype(float) * 0.1
        - names.str.lower().isin(P.STOPWORDS) * 0.3
    )
    return conf.clip(0.0, 1.0)


def _keywords_frame(texts: pd.Series, conv: pd.Series) -> pd.DataFrame:
    """E3 vectorized: freq>=2 non-stopword words, top-10 by first occurrence
    (entity_extractor.py:328-351)."""
    w = texts.str.lower().str.extractall(P._KEYWORD_RX)
    if w.empty:
        return pd.DataFrame(columns=["conv_id", "name", "entity_type", "seq", "confidence"])
    words = w[0]
    words = words[~words.isin(P.STOPWORDS)]
    if words.empty:
        return pd.DataFrame(columns=["conv_id", "name", "entity_type", "seq", "confidence"])
    df = pd.DataFrame(
        {
            "row": words.index.get_level_values(0),
            "pos": words.index.get_level_values(1),
            "word": words.to_numpy(),
        }
    )
    g = df.groupby(["row", "word"], sort=False).agg(
        cnt=("pos", "size"), first_pos=("pos", "min")
    )
    g = g[g["cnt"] >= P.KEYWORD_MIN_FREQ].reset_index()
    g = g.sort_values(["row", "first_pos"], kind="stable")
    g["rk"] = g.groupby("row").cumcount() + 1
    g = g[g["rk"] <= P.KEYWORD_TOP_K]
    return pd.DataFrame(
        {
            "conv_id": conv.loc[g["row"]].to_numpy(),
            "name": g["word"].to_numpy(),
            "entity_type": "concept",
            "seq": P.KEYWORD_SEQ_BASE + g["rk"].to_numpy(),
            "confidence": P.KEYWORD_CONFIDENCE,
        }
    )


def extract_entities_batch(pdf: pd.DataFrame) -> pd.DataFrame:
    """One batch: documents(conv_id, text) -> deduplicated entities."""
    if len(pdf) == 0:
        return _empty()
    texts = pdf["text"].fillna("")
    conv = pdf["conv_id"]

    m = _mentions_frame(texts, conv)
    if len(m):
        m["confidence"] = _confidence(m["name"])
        m = m[m["confidence"] >= P.CONFIDENCE_THRESHOLD]
    else:
        m = m.assign(confidence=pd.Series(dtype=float))
    k = _keywords_frame(texts, conv)
    allm = pd.concat([m, k], ignore_index=True) if len(k) else m
    if not len(allm):
        return _empty()

    # D1 first-seen-wins (entity_extractor.py:93-125): sort by emission
    # order; first row per (conv, lower(name)) keeps name/type; conf = max.
    allm["name_norm"] = allm["name"].str.lower()
    allm = allm.sort_values("seq", kind="stable")
    g = allm.groupby(["conv_id", "name_norm"], sort=False)
    out = g.agg(
        name=("name", "first"),
        entity_type=("entity_type", "first"),
        confidence=("confidence", "max"),
        entity_order=("seq", "min"),
    ).reset_index()
    return out[_ENT_COLS]


# --------------------------------------------------------------------------
# Document-extract kernel: one pass per conversation emitting its entities,
# its relation candidates AND its deduplicated triples. Endpoint resolution
# (E7), sentence co-occurrence (E6), validation (E9) and the triple dedup
# (D11) are all per conversation, so they run here on data the task already
# holds instead of as conv_id joins. The per-document dataflow is then:
# reassemble shuffle -> this kernel -> narrow explodes.
# --------------------------------------------------------------------------

_DOC_EXTRACT_SCHEMA = (
    "conv_id string, text string, "
    "ents array<struct<entity_order:bigint, name_norm:string, name:string, "
    "entity_type:string, confidence:double>>, "
    "cands array<struct<pred:string, head_text:string, tail_text:string>>, "
    "triples array<struct<subj:string, pred:string, obj:string, conf:double>>"
)
_ENT_FIELDS = ["entity_order", "name_norm", "name", "entity_type", "confidence"]
_CAND_FIELDS = ["pred", "head_text", "tail_text"]

_VALID_COMBOS = frozenset(P.VALID_COMBOS)
_RELAXED_PREDS = frozenset(P.RELAXED_PREDS)
_SENTENCE_RX = re.compile(P.SENTENCE_SPLIT_REGEX)
# joins the sentences of one conversation for a single substring scan per
# entity; no entity pattern can match it, so no name spans two sentences
_SENT_SEP = "\x00"


def _candidates_batch(pdf: pd.DataFrame) -> pd.DataFrame:
    """E5 per-line anchored extraction: (row, pred, head_text, tail_text).

    Exactly equivalent to whole-document ``finditer`` (no relation pattern
    spans a newline) but keeps the backtracking '(.+?)...(.+)' patterns off
    lines that can't match — the difference between O(doc_len^2) and
    O(line_len^2 on matching lines only)."""
    lines = pdf["text"].fillna("").str.split("\n").explode()
    rows = lines.index
    lines = lines.fillna("").reset_index(drop=True)
    row_of_line = pd.Series(rows, index=lines.index)
    outs = []
    for pred, rx, anchor in P.compiled_relation_patterns():
        mask = lines.str.contains(anchor, regex=True, na=False)
        if not mask.any():
            continue
        m = lines[mask].str.extractall(rx)
        if m.empty:
            continue
        outs.append(
            pd.DataFrame(
                {
                    "row": row_of_line.loc[m.index.get_level_values(0)].to_numpy(),
                    "pred": pred,
                    "head_text": m[0].str.strip().str.lower().to_numpy(),
                    "tail_text": m[1].str.strip().str.lower().to_numpy(),
                }
            )
        )
    if not outs:
        return pd.DataFrame(columns=["row", *_CAND_FIELDS])
    return pd.concat(outs, ignore_index=True).drop_duplicates()


def _records_by_row(df: pd.DataFrame, fields: list[str], n_rows: int) -> list[list[dict]]:
    """Per input row, its records of ``df`` (which carries a ``row``
    column) as dicts, in ``df`` order."""
    out: list[list[dict]] = [[] for _ in range(n_rows)]
    for row, rec in zip(df["row"].to_numpy(), df[fields].to_dict("records")):
        out[row].append(rec)
    return out


def conversation_triples(text: str, ents: list[dict], cands: list[dict]) -> list[dict]:
    """E7 + E6 + E9 + D11 for one conversation, as the reference does them
    per document (relation_extractor.py:400-487): the same results as
    relations.pattern_relations / cooccurrence_relations /
    validate_relations / to_triples restricted to one conv_id.

    ``ents`` are the conversation's entities in emission (entity_order)
    order, ``cands`` its (pred, head_text, tail_text) candidates. Returns
    the validated (subj, pred, obj) triples with their max conf. Sentences
    are stripped and lowered with Python's str methods, as the reference
    does; the join form uses Java's (?U) trim and lower."""
    if not ents:
        return []
    best: dict[tuple[str, str, str], float] = {}

    def emit(head: dict, pred: str, tail: dict, conf: float) -> None:
        h, t = head["name_norm"], tail["name_norm"]
        if (
            h != t
            and conf >= P.CONFIDENCE_THRESHOLD
            and (pred in _RELAXED_PREDS
                 or (head["entity_type"], tail["entity_type"], pred) in _VALID_COMBOS)
            and best.get((h, pred, t), -1.0) < conf
        ):
            best[(h, pred, t)] = conf

    # E7: exact lower(name) first, else the first entity in emission order
    # with containment either way ('' is in every name, so '' -> first)
    exact = {e["name_norm"]: e for e in ents}
    resolved: dict[str, dict | None] = {}

    def resolve(text: str) -> dict | None:
        if text not in resolved:
            hit = exact.get(text)
            if hit is None:
                hit = next((e for e in ents if text in e["name_norm"] or e["name_norm"] in text), None)
            resolved[text] = hit
        return resolved[text]

    for c in cands:
        head, tail = resolve(c["head_text"]), resolve(c["tail_text"])
        if head is not None and tail is not None:
            emit(head, c["pred"], tail, P.PATTERN_RELATION_CONFIDENCE)

    # E6: entities sharing a sentence, paired in emission order. Identical
    # sentences give identical pairs, so each distinct one is scanned once.
    sents = list(dict.fromkeys(
        s for s in (x.strip().lower() for x in _SENTENCE_RX.split(text)) if s
    ))
    joined = _SENT_SEP.join(sents)
    starts = list(itertools.accumulate((len(s) + 1 for s in sents[:-1]), initial=0))
    hits: dict[int, list[dict]] = {}
    for e in ents:  # emission order, so each sentence's hits are ordered too
        name = e["name_norm"]
        pos = joined.find(name)
        while pos >= 0:
            i = bisect.bisect_right(starts, pos) - 1
            hits.setdefault(i, []).append(e)
            pos = joined.find(name, starts[i] + len(sents[i]) + 1)
    for row in hits.values():
        for i, a in enumerate(row):
            for b in row[i + 1:]:
                emit(a, "related_to", b, P.COOCCURRENCE_CONFIDENCE)

    return [{"subj": s, "pred": p, "obj": o, "conf": c} for (s, p, o), c in best.items()]


def _doc_extract_batch(pdf: pd.DataFrame) -> pd.DataFrame:
    """documents(conv_id, text) -> one row each with its ents, cands and
    triples arrays. conv_id must be unique within the batch."""
    pdf = pdf.reset_index(drop=True)
    n = len(pdf)
    ents = extract_entities_batch(pdf)
    # entity arrays sorted by emission order (dict-insertion order of the
    # reference dedup) — downstream "first match wins" = first array hit.
    # A null conv_id has no entities (the groupby drops it), hence no
    # triples, as the conv_id equi-joins of the join form give.
    ents = ents.sort_values(["conv_id", "entity_order"], kind="stable")
    conv_to_row = pd.Series(pdf.index, index=pdf["conv_id"])
    ents["row"] = conv_to_row.loc[ents["conv_id"]].to_numpy()
    ent_lists = _records_by_row(ents, _ENT_FIELDS, n)
    cand_lists = _records_by_row(_candidates_batch(pdf), _CAND_FIELDS, n)
    texts = pdf["text"].fillna("")
    return pd.DataFrame(
        {
            "conv_id": pdf["conv_id"],
            "text": texts,
            "ents": ent_lists,
            "cands": cand_lists,
            "triples": [
                conversation_triples(t, e, c) for t, e, c in zip(texts, ent_lists, cand_lists)
            ],
        }
    )


def _doc_extract_kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    for pdf in batches:
        if len(pdf):
            yield _doc_extract_batch(pdf)


def extract_documents_fused(documents: DataFrame) -> DataFrame:
    """(conv_id, text) -> (conv_id, text, ents[], cands[], triples[]): the
    single-pass extraction surface; entities and triples are narrow
    explodes of it."""
    return documents.select("conv_id", "text").mapInPandas(
        _doc_extract_kernel, schema=_DOC_EXTRACT_SCHEMA
    )

