"""Extraction pattern tables and validation rules (parity-critical).

These reproduce, verbatim and in the same iteration order, the regex tables
and rule constants of the reference's deterministic extraction path:

- entity patterns:  /root/reference/agraph/extractors/entity_extractor.py:169-200
- stopwords:        entity_extractor.py:28-43
- relation patterns: /root/reference/agraph/extractors/relation_extractor.py:297-338
- valid relation-type combinations: relation_extractor.py:107-145

Iteration order matters: the reference emits entities looping
type -> pattern -> match (entity_extractor.py:217-220) and resolves
relation endpoints by dict insertion order (relation_extractor.py:420-445),
so first-seen-wins dedup depends on this exact ordering. The parity suite
(tests/test_parity_reference.py) checks the emitted triple set against the
actual reference code, so any drift here fails tests.
"""

from __future__ import annotations

import re

STOPWORDS = [
    "the", "a", "an", "and", "or", "but", "in", "on", "at", "to", "for", "of", "with", "by",
]

# (entity_type, [pattern, ...]) in reference dict order
ENTITY_PATTERNS: list[tuple[str, list[str]]] = [
    ("person", [
        r"\b[A-Z][a-z]+ [A-Z][a-z]+\b",
        r"\b(?:Mr|Mrs|Ms|Dr|Prof)\.? [A-Z][a-z]+\b",
        r"[一-鿿]{2,4}·[一-鿿]{2,4}",
        r"史蒂夫·[一-鿿]+",
        r"[一-鿿]{2}[一-鿿]{1,2}(?:先生|女士|博士|教授)",
    ]),
    ("organization", [
        r"\b[A-Z][a-zA-Z\s&]+ (?:Inc|Corp|Ltd|LLC|Company|Organization)\b",
        r"\b[A-Z][A-Z\s]+\b",
        r"[一-鿿]+(?:公司|企业|集团|组织|机构|大学|学院|研究所)",
        r"苹果公司|清华大学|Facebook|Google|TensorFlow|PyTorch",
    ]),
    ("location", [
        r"\b[A-Z][a-z]+ (?:City|State|Country|Province|District)\b",
        r"\bin [A-Z][a-z]+\b",
        r"[一-鿿]+(?:市|省|区|县|国|州|地区)",
        r"北京|上海|加利福尼亚州|库比蒂诺|海淀区",
    ]),
    ("concept", [
        r"\b[a-z]+ (?:concept|theory|principle|method|approach)\b",
        r"[一-鿿]+(?:技术|概念|理论|方法|系统|平台|框架)",
        r"人工智能|机器学习|深度学习|自然语言处理|计算机视觉|iOS|iPhone",
    ]),
    ("product", [
        r"iPhone|iPad|macOS|iOS|Django|Flask|Python|TensorFlow|PyTorch",
        r"[一-鿿]+(?:产品|系统|平台|应用|软件)",
    ]),
]

# (relation_type, [pattern, ...]) in reference dict order; each pattern has
# exactly two capture groups (head, tail)
RELATION_PATTERNS: list[tuple[str, list[str]]] = [
    ("belongs_to", [
        r"(.+?) (?:belongs to|is part of|works for) (.+)",
        r"(.+?) of (.+)",
        r"(.+?)(?:位于|在)(.+)",
        r"(.+?)(?:属于|隶属于)(.+)",
    ]),
    ("contains", [
        r"(.+?) (?:contains|includes|has) (.+)",
        r"(.+?) with (.+)",
        r"(.+?)(?:包括|包含|有)(.+)",
        r"(.+?)(?:下辖|管辖)(.+)",
    ]),
    ("similar_to", [
        r"(.+?) (?:is similar to|resembles|is like) (.+)",
        r"(.+?) and (.+?) are similar",
        r"(.+?)(?:类似于|相似于)(.+)",
    ]),
    ("related_to", [
        r"(.+?) (?:is related to|relates to|associated with) (.+)",
        r"(.+?) and (.+?) are related",
        r"(.+?)(?:相关|关联|涉及)(.+)",
    ]),
    ("describes", [
        r"(.+?) (?:describes|explains|defines) (.+)",
        r"(.+?) is described by (.+)",
        r"(.+?)(?:描述|说明|定义)(.+)",
    ]),
    ("develops", [
        r"(.+?) (?:develops|creates|builds) (.+)",
        r"(.+?) developed by (.+)",
        r"(.+?)(?:开发|研发|创造|制造)(.+)",
        r"(.+?)(?:由)(.+?)(?:开发|创建)",
    ]),
    ("founded_by", [
        r"(.+?) (?:founded by|established by|created by) (.+)",
        r"(.+?)(?:由)(.+?)(?:创立|成立|建立)",
        r"(.+?)(?:创建于|成立于)(.+)",
    ]),
]

# Cheap necessary-condition literal anchors, aligned 1:1 with
# RELATION_PATTERNS entries. A line can only match pattern i if it matches
# anchor i (case-insensitive). Used to prefilter lines before running the
# quadratic-backtracking '(.+?) ... (.+)' patterns — a pure optimization,
# match-set identical (each anchor is a literal fragment the full pattern
# must consume).
RELATION_ANCHORS: list[tuple[str, list[str]]] = [
    ("belongs_to", [r" (?:belongs to|is part of|works for) ", r" of ", r"位于|在", r"属于|隶属于"]),
    ("contains", [r" (?:contains|includes|has) ", r" with ", r"包括|包含|有", r"下辖|管辖"]),
    ("similar_to", [r" (?:is similar to|resembles|is like) ", r" and .* are similar", r"类似于|相似于"]),
    ("related_to", [r" (?:is related to|relates to|associated with) ", r" and .* are related", r"相关|关联|涉及"]),
    ("describes", [r" (?:describes|explains|defines) ", r" is described by ", r"描述|说明|定义"]),
    ("develops", [r" (?:develops|creates|builds) ", r" developed by ", r"开发|研发|创造|制造", r"由"]),
    ("founded_by", [r" (?:founded by|established by|created by) ", r"由", r"创建于|成立于"]),
]

# (head_type, tail_type, relation_type) whitelist, relation_extractor.py:124-138
VALID_COMBOS = [
    ("database", "table", "contains"),
    ("table", "column", "contains"),
    ("column", "column", "foreign_key"),
    ("document", "concept", "mentions"),
    ("person", "organization", "belongs_to"),
    ("person", "organization", "founded_by"),
    ("organization", "product", "develops"),
    ("organization", "software", "develops"),
    ("organization", "location", "belongs_to"),
    ("concept", "concept", "similar_to"),
    ("concept", "concept", "related_to"),
    ("product", "concept", "related_to"),
    ("software", "concept", "related_to"),
]
# relation types accepted regardless of endpoint types (relation_extractor.py:141-145)
RELAXED_PREDS = ["related_to", "mentions", "describes"]

# keyword extraction (entity_extractor.py:328-351)
KEYWORD_REGEX = r"\b[a-zA-Z]{3,}\b"
KEYWORD_MIN_FREQ = 2
KEYWORD_TOP_K = 10
KEYWORD_CONFIDENCE = 0.6

CONFIDENCE_THRESHOLD = 0.5  # entity_extractor.py:27, relation_extractor.py:29
PATTERN_RELATION_CONFIDENCE = 0.7  # relation_extractor.py:405
COOCCURRENCE_CONFIDENCE = 0.5  # relation_extractor.py:481
SENTENCE_SPLIT_REGEX = r"[.!?]+"  # relation_extractor.py:461

# keywords are appended after all pattern mentions (entity_extractor.py:242-251):
# any keyword seq sorts after any mention seq
KEYWORD_SEQ_BASE = 10**10


_KEYWORD_RX = re.compile("(" + KEYWORD_REGEX + ")")


def compiled_entity_patterns() -> list[tuple[int, str, int, "re.Pattern[str]"]]:
    """[(type_idx, entity_type, pattern_idx, compiled-with-IGNORECASE)] in
    reference emission order; the whole pattern is wrapped in one capture
    group so pandas ``str.extractall`` returns the full match."""
    out = []
    for ti, (etype, pats) in enumerate(ENTITY_PATTERNS):
        for pi, pat in enumerate(pats):
            out.append((ti, etype, pi, re.compile("(" + pat + ")", re.IGNORECASE)))
    return out


def compiled_relation_patterns() -> list[tuple[str, "re.Pattern[str]", "re.Pattern[str]"]]:
    """[(pred, compiled_pattern, compiled_anchor)]; the anchor is a cheap
    necessary condition used to skip lines before the full pattern runs.

    No relation pattern can match across a newline ('.' and literal spaces
    never match \\n), so extraction is done per line; the anchor prefilter
    keeps the quadratic patterns off lines that cannot match."""
    out = []
    anchors = {pred: pats for pred, pats in RELATION_ANCHORS}
    for pred, pats in RELATION_PATTERNS:
        for i, pat in enumerate(pats):
            anchor = re.compile(anchors[pred][i], re.IGNORECASE)
            out.append((pred, re.compile(pat, re.IGNORECASE), anchor))
    return out

