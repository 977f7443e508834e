"""Load the reference agraph extractor modules standalone (test oracle only).

The reference package's ``agraph/__init__.py`` pulls in network/config deps
(loguru, pydantic settings, openai) that are absent here. For the parity
oracle we only need the pure-Python deterministic path:

  agraph/types.py, agraph/entities.py, agraph/relations.py,
  agraph/extractors/entity_extractor.py  (TextEntityExtractor)
  agraph/extractors/relation_extractor.py (TextRelationExtractor)

This loader materializes exactly those modules under a synthetic package
name with a stdlib-logging stub for ``agraph.logger``. The reference code
is never shipped or copied — it is imported read-only at test time to
produce golden triples (SURVEY.md §5.1).
"""

from __future__ import annotations

import contextlib
import importlib.util
import json
import logging
import os
import sys
import types as pytypes

REF_ROOT = "/root/reference/agraph"
GOLDEN_DIR = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tests", "golden"
)
_PKG = "refagraph"


def reference_available() -> bool:
    """True when the reference checkout is present to run live."""
    return os.path.isdir(REF_ROOT)


def golden(name: str):
    """Recorded oracle outputs (tests/golden/<name>.json, written by
    tests/golden/capture.py), the parity gate when the checkout is absent."""
    with open(os.path.join(GOLDEN_DIR, f"{name}.json")) as fh:
        return json.load(fh)


@contextlib.contextmanager
def _rollback_on_error():
    """Drop every module registered inside the block if it raises, so a
    failed first load re-raises its real error on the next call instead of
    leaving half-initialized modules behind for the cache checks."""
    before = set(sys.modules)
    try:
        yield
    except BaseException:
        for name in set(sys.modules) - before:
            del sys.modules[name]
        raise


def _load(name: str, path: str):
    spec = importlib.util.spec_from_file_location(name, path)
    assert spec and spec.loader
    mod = importlib.util.module_from_spec(spec)
    sys.modules[name] = mod
    spec.loader.exec_module(mod)
    return mod


def load_reference_extractors():
    """Return (TextEntityExtractor, TextRelationExtractor) classes from the
    actual reference source, or raise ImportError if unavailable."""
    if f"{_PKG}.extractors.entity_extractor" in sys.modules:
        ee = sys.modules[f"{_PKG}.extractors.entity_extractor"]
        re_ = sys.modules[f"{_PKG}.extractors.relation_extractor"]
        return ee.TextEntityExtractor, re_.TextRelationExtractor
    with _rollback_on_error():
        return _load_extractors()


def _load_extractors():
    pkg = pytypes.ModuleType(_PKG)
    pkg.__path__ = [REF_ROOT]
    sys.modules[_PKG] = pkg

    logmod = pytypes.ModuleType(f"{_PKG}.logger")
    logmod.logger = logging.getLogger("refagraph")
    sys.modules[f"{_PKG}.logger"] = logmod

    _load(f"{_PKG}.types", f"{REF_ROOT}/types.py")
    _load(f"{_PKG}.entities", f"{REF_ROOT}/entities.py")
    _load(f"{_PKG}.relations", f"{REF_ROOT}/relations.py")

    epkg = pytypes.ModuleType(f"{_PKG}.extractors")
    epkg.__path__ = [f"{REF_ROOT}/extractors"]
    sys.modules[f"{_PKG}.extractors"] = epkg

    ee = _load(f"{_PKG}.extractors.entity_extractor", f"{REF_ROOT}/extractors/entity_extractor.py")
    re_ = _load(f"{_PKG}.extractors.relation_extractor", f"{REF_ROOT}/extractors/relation_extractor.py")
    return ee.TextEntityExtractor, re_.TextRelationExtractor


def reference_triples(doc_text: str) -> set[tuple[str, str, str]]:
    """Golden (subj, pred, obj) set for one document via the actual reference
    extractors (names lowercased — the parity canonical form)."""
    TextEntityExtractor, TextRelationExtractor = load_reference_extractors()
    ents = TextEntityExtractor().extract_from_text(doc_text)
    rels = TextRelationExtractor().extract_from_text(doc_text, ents)
    out = set()
    for r in rels:
        pred = r.relation_type.value if hasattr(r.relation_type, "value") else str(r.relation_type)
        out.add((r.head_entity.name.lower(), pred, r.tail_entity.name.lower()))
    return out


class FakeSegmentEncoding:
    """Deterministic stand-in for a tiktoken encoding: tokens are the
    maximal whitespace / non-whitespace runs, decode is concatenation
    (lossless). Absent tiktoken in this container, injecting the SAME
    encoding into the reference TokenChunker and the engine kernel lets the
    chunking ALGORITHM (greedy packing, separator recursion, overlap) be
    parity-tested exactly."""

    def encode(self, text: str):
        import re

        return re.findall(r"\s+|\S+", text)

    def decode(self, tokens) -> str:
        return "".join(tokens)


def load_reference_chunker():
    """Return (TokenChunker, SimpleTokenChunker) from the actual reference
    chunker module (/root/reference/agraph/chunker.py), with a stub tiktoken
    module injected (the real one is not installed here)."""
    name = f"{_PKG}.chunker"
    if name in sys.modules:
        m = sys.modules[name]
        return m.TokenChunker, m.SimpleTokenChunker
    with _rollback_on_error():
        if "tiktoken" not in sys.modules:
            try:
                import tiktoken  # noqa: F401
            except ImportError:
                stub = pytypes.ModuleType("tiktoken")
                stub.encoding_for_model = lambda model: FakeSegmentEncoding()
                stub.get_encoding = lambda name: FakeSegmentEncoding()
                sys.modules["tiktoken"] = stub
        m = _load(name, f"{REF_ROOT}/chunker.py")
    return m.TokenChunker, m.SimpleTokenChunker
