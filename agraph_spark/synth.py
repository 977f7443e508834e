"""Deterministic synthetic transcript corpus (FIXTURES.md §1/§4).

Generates the multi-turn conversation table from BASELINE.json input_hint:
(conv_id:string, turn_idx:int32, role:string, text:string, tool:string,
ts:timestamp). Text embeds patterns the reference extractors hit
(entity patterns: /root/reference/agraph/extractors/entity_extractor.py:169-200,
relation patterns: relation_extractor.py:297-338), plus hot-entity skew and
long-tail conversation lengths to exercise salting/AQE at scale.

Pure function of (n_convs, seed) — no external data, reproducible anywhere.
"""

from __future__ import annotations

import datetime as dt

import numpy as np
import pandas as pd

FIRST = ["Alice", "Bob", "Carol", "David", "Emma", "Frank", "Grace", "Henry", "Irene", "Jack",
         "Karen", "Louis", "Maria", "Nathan", "Olivia", "Peter", "Quinn", "Rachel", "Sam", "Tina"]
LAST = ["Smith", "Jones", "Brown", "Taylor", "Wilson", "Davies", "Evans", "Thomas", "Johnson",
        "Roberts", "Walker", "Wright", "Green", "Hall", "Wood", "Clarke", "King", "Baker"]
ORGS = ["Acme Corp", "Globex Inc", "Initech Ltd", "Umbrella Company", "Stark Organization",
        "Wayne Inc", "Hooli Corp", "Vandelay Inc", "Wonka Ltd", "Cyberdyne Corp"]
# hot entities: appear in a large fraction of conversations (skew driver)
HOT_ORGS = ["Acme Corp", "Globex Inc"]
HOT_RATE = 0.3  # share of organization mentions drawn from HOT_ORGS (key skew)
PRODUCTS = ["iPhone", "iPad", "Django", "Flask", "Python", "TensorFlow", "PyTorch", "macOS"]
CITIES = ["Paris", "London", "Berlin", "Madrid", "Oslo", "Dublin", "Vienna", "Prague"]
KEYWORDS = ["pipeline", "dataset", "cluster", "shuffle", "partition", "lineage", "checkpoint",
            "vector", "embedding", "graph", "entity", "relation", "triple", "schema"]
ZH_ORGS = ["苹果公司", "清华大学", "华为公司", "阿里集团"]
ZH_CITIES = ["北京", "上海", "海淀区"]
ROLES = ["user", "assistant", "system", "tool"]
TOOLS = ["", "", "", "search", "calculator", "browser"]

EPOCH = dt.datetime(2024, 1, 1)


def _person(rng) -> str:
    return f"{FIRST[rng.integers(len(FIRST))]} {LAST[rng.integers(len(LAST))]}"


def _org(rng) -> str:
    if rng.random() < HOT_RATE:
        return HOT_ORGS[rng.integers(len(HOT_ORGS))]
    return ORGS[rng.integers(len(ORGS))]


def _sentence(rng) -> str:
    """One seeded sentence drawn from template families keyed to reference patterns."""
    kind = rng.integers(10)
    p, o = _person(rng), _org(rng)
    prod = PRODUCTS[rng.integers(len(PRODUCTS))]
    city = CITIES[rng.integers(len(CITIES))]
    kw = KEYWORDS[rng.integers(len(KEYWORDS))]
    kw2 = KEYWORDS[rng.integers(len(KEYWORDS))]
    if kind == 0:
        return f"{p} works for {o}."
    if kind == 1:
        return f"{o} develops {prod}."
    if kind == 2:
        return f"{o} founded by {p}."
    if kind == 3:
        return f"{p} and {o} are related."
    if kind == 4:
        return f"The {kw} {kw2} contains {prod}."
    if kind == 5:
        z = ZH_ORGS[rng.integers(len(ZH_ORGS))]
        zc = ZH_CITIES[rng.integers(len(ZH_CITIES))]
        return f"{z}位于{zc}。"
    if kind == 6:
        return f"Dr. {LAST[rng.integers(len(LAST))]} lives in {city}."
    if kind == 7:
        # repeated keywords (freq >= 2) for concept extraction
        return f"the {kw} uses {kw} and {kw2} with {kw2} tuning."
    if kind == 8:
        return f"{prod} is similar to {PRODUCTS[rng.integers(len(PRODUCTS))]}!"
    return f"{p} mentioned {city} while testing {prod}."


def make_transcripts(
    n_convs: int = 50,
    seed: int = 42,
    mean_turns: int = 6,
    long_tail: bool = True,
) -> pd.DataFrame:
    """Deterministic transcripts table as a pandas DataFrame."""
    rng = np.random.default_rng(seed)
    rows = []
    for c in range(n_convs):
        conv_id = f"conv{c:06d}"
        n_turns = int(rng.integers(2, mean_turns + 1))
        if long_tail and rng.random() < 0.05:
            n_turns = int(rng.integers(mean_turns * 5, mean_turns * 12))  # long-conv skew
        t0 = EPOCH + dt.timedelta(seconds=int(rng.integers(0, 10_000_000)))
        for t in range(n_turns):
            n_sent = int(rng.integers(1, 4))
            text = " ".join(_sentence(rng) for _ in range(n_sent))
            role = ROLES[int(rng.integers(len(ROLES)))]
            tool = TOOLS[int(rng.integers(len(TOOLS)))] if role == "tool" else ""
            rows.append(
                (conv_id, np.int32(t), role, text, tool, t0 + dt.timedelta(seconds=30 * t))
            )
    pdf = pd.DataFrame(rows, columns=["conv_id", "turn_idx", "role", "text", "tool", "ts"])
    pdf["turn_idx"] = pdf["turn_idx"].astype("int32")
    return pdf


def transcripts_df(spark, n_convs: int = 50, seed: int = 42):
    """Transcripts as a Spark DataFrame with the canonical schema, shuffled
    row order (so nothing accidentally relies on input order)."""
    from .schemas import TRANSCRIPTS

    pdf = make_transcripts(n_convs=n_convs, seed=seed)
    # deterministic shuffle to destroy insertion order
    rng = np.random.default_rng(seed + 1)
    pdf = pdf.iloc[rng.permutation(len(pdf))].reset_index(drop=True)
    return spark.createDataFrame(pdf, schema=TRANSCRIPTS)
