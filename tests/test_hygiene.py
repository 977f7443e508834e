"""Source hygiene: every tracked Python file compiles with SyntaxWarning
and DeprecationWarning raised as errors. An invalid escape such as '\\s'
in a non-raw string is a warning in Python 3.11 and an error in later
versions, so it must never reach the tree. Library code leaves the
session's global state alone, declares nothing that nothing loads,
offers no option that no caller sets and no function that only tests
call."""

from __future__ import annotations

import ast
import os
import subprocess
import warnings

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _tracked_python() -> list[str]:
    files = subprocess.run(
        ["git", "ls-files", "*.py"], cwd=ROOT, capture_output=True, text=True, check=True
    ).stdout.split()
    assert files
    return files


def test_tracked_python_compiles_without_warnings():
    files = _tracked_python()
    bad = []
    for name in files:
        with open(os.path.join(ROOT, name), encoding="utf-8") as fh:
            src = fh.read()
        with warnings.catch_warnings():
            warnings.simplefilter("error", SyntaxWarning)
            warnings.simplefilter("error", DeprecationWarning)
            try:
                compile(src, name, "exec")
            except (SyntaxError, SyntaxWarning, DeprecationWarning) as exc:
                bad.append(f"{name}: {exc}")
    assert not bad, "\n".join(bad)


def test_library_leaves_session_state_alone():
    """No module under agraph_spark/ sets the context's checkpoint
    directory or a session conf: the SparkSession is shared by every query
    in a process, so a library-side set leaks into the next query. Reliable
    checkpoints and shuffle sizes come from the session's own conf
    (spark.checkpoint.dir, spark.sql.shuffle.partitions with AQE)."""
    pkg = os.path.join(ROOT, "agraph_spark")
    bad = []
    for dirpath, _, files in os.walk(pkg):
        for name in files:
            if not name.endswith(".py"):
                continue
            path = os.path.join(dirpath, name)
            with open(path, encoding="utf-8") as fh:
                for n, line in enumerate(fh, 1):
                    if "setCheckpointDir(" in line or ".conf.set(" in line:
                        bad.append(f"{os.path.relpath(path, ROOT)}:{n}: {line.strip()}")
    assert not bad, "\n".join(bad)


def test_every_library_name_is_loaded():
    """Every top-level def, class and assignment in agraph_spark/ is read
    somewhere in a tracked .py file (a bare name, an attribute or a
    from-import). A declaration nothing loads is dead weight that drifts
    from the code it once described."""
    declared: dict[str, list[str]] = {}
    loaded: set[str] = set()
    for name in _tracked_python():
        with open(os.path.join(ROOT, name), encoding="utf-8") as fh:
            tree = ast.parse(fh.read(), name)
        for node in ast.walk(tree):
            if isinstance(node, ast.Name) and isinstance(node.ctx, ast.Load):
                loaded.add(node.id)
            elif isinstance(node, ast.Attribute):
                loaded.add(node.attr)
            elif isinstance(node, ast.ImportFrom):
                loaded.update(alias.name for alias in node.names)
        if not name.startswith("agraph_spark/"):
            continue
        for stmt in tree.body:
            if isinstance(stmt, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
                targets = [stmt.name]
            elif isinstance(stmt, ast.Assign):
                targets = [t.id for t in stmt.targets if isinstance(t, ast.Name)]
            elif isinstance(stmt, ast.AnnAssign) and isinstance(stmt.target, ast.Name):
                targets = [stmt.target.id]
            else:
                continue
            for target in targets:
                declared.setdefault(target, []).append(f"{name}:{stmt.lineno}")
    unused = sorted(
        f"{where} {target}"
        for target, places in declared.items() if target not in loaded
        for where in places
    )
    assert not unused, "\n".join(unused)


def test_forced_path_covers_every_cutover_budget(forced_path):
    """Every upper-case int constant assigned in adaptive.py is a cutover
    budget, and the forced_path fixture (tests/conftest.py) forces each
    of them: a budget it missed would keep its shipped value and leave
    that site's forced-path tests on the default path."""
    from agraph_spark.operators import adaptive

    path = os.path.join(ROOT, "agraph_spark", "operators", "adaptive.py")
    with open(path, encoding="utf-8") as fh:
        tree = ast.parse(fh.read(), path)
    budgets = {target.id for stmt in tree.body if isinstance(stmt, ast.Assign)
               and isinstance(stmt.value, ast.Constant) and type(stmt.value.value) is int
               for target in stmt.targets
               if isinstance(target, ast.Name) and target.id.isupper()}
    assert "VECTOR_VALUES" in budgets and "GRAPH_ROWS" in budgets
    for side, want in (("driver", 10**9), ("distributed", -1)):
        with forced_path(side):
            assert {name: getattr(adaptive, name) for name in budgets} == dict.fromkeys(
                budgets, want), side


# Code outside tests/ whose calls count as setting an option.
CALLERS = ("agraph_spark/", "perfbench/", "tools/", "scripts/",
           "__spark_entry__.py", "bench.py", "bench_extra.py")

# Options no caller outside tests/ sets that stay anyway, each with its reason.
KEPT_OPTIONS = {
    "checkpoint.run_checkpointed(fail_after)":
        "fault hook: raises after k batches for the kill-and-resume tests",
    "io.read_documents(skip_corrupt)":
        "outside-input policy: what a file the parser rejects becomes",
    "io.read_documents(with_errors)":
        "outside-input policy: whether rejected files come back as rows",
    "io.write_graph_bucketed(location)":
        "deployment setting: where the store's tables live",
    "io.write_graph_bucketed(edges_by_tail)":
        "deployment setting: a tail-bucketed edge copy for tail-keyed joins",
    "operators.analytics.pagerank(damping)":
        "reference's signature: the damping factor of its pagerank",
    "operators.graph_queries.query_relations(tail_id)":
        "reference's signature: a query_relations filter",
    "operators.graph_queries.query_chunks(source)":
        "reference's signature: a query_chunks filter",
    "operators.linking.link_entities(model)": "seam: the duplicate-verify model",
    "operators.linking.link_entities(log_excluded)":
        "deployment setting: logs the entities the link bound excludes",
    "operators.model_extract.extract_entities_model(model)": "seam: the entity model",
    "operators.model_extract.extract_relations_model(model)": "seam: the relation model",
    "operators.multimodal.extract_media_features(decoder)": "seam: the media decoder",
    "operators.multimodal.extract_media_features(skip_corrupt)":
        "outside-input policy: what undecodable media becomes",
    "operators.retrieval.chat_context(chunk_entity_links)":
        "reference's signature: achat_enhanced's connected chunks, through chat(**k)",
    "operators.retrieval.chat_context(k_connected)":
        "reference's signature: achat_enhanced's connected chunks, through chat(**k)",
    "operators.retrieval.render_rag_prompt(response_type)":
        "reference's signature: chat_llm's response type",
    "operators.retrieval.chat(model)": "seam: the chat model",
    "operators.retrieval.chat(history_messages)": "reference's signature: chat's history",
    "operators.retrieval.chat(**k)": "reference's signature: chat's retrieval settings",
    "operators.vectors.ivf_index(n_centroids)":
        "deployment setting: the IVF index is sized to the corpus",
    "operators.vectors.embed_hash_stub(text_col)": "seam: the stand-in encoder's input",
    "operators.vectors.embed_hash_stub(dim)": "seam: the stand-in encoder's width",
    "streaming.windows.start_sessionized_stream(watermark)":
        "outside-input policy: how late a turn may arrive",
}


def _options(tree: ast.Module, module: str):
    """(label, callee name, positional index or None, parameter) for every
    defaulted parameter and ``**`` parameter of the module's public
    functions and public classes' methods, and every defaulted field of
    its public dataclasses. A constructor's callee is its class."""
    scopes = [(fn, fn.name, f"{module}.{fn.name}", 0) for fn in tree.body
              if isinstance(fn, ast.FunctionDef) and not fn.name.startswith("_")]
    for cls in tree.body:
        if not isinstance(cls, ast.ClassDef) or cls.name.startswith("_"):
            continue
        for m in cls.body:
            if isinstance(m, ast.FunctionDef) and m.name == "__init__":
                scopes.append((m, cls.name, f"{module}.{cls.name}", 1))
            elif isinstance(m, ast.FunctionDef) and not m.name.startswith("_"):
                scopes.append((m, m.name, f"{module}.{cls.name}.{m.name}", 1))
        if any("dataclass" in ast.unparse(d) for d in cls.decorator_list):
            fields = [s for s in cls.body if isinstance(s, ast.AnnAssign)]
            for i, field in enumerate(fields):
                if field.value is not None:
                    yield f"{module}.{cls.name}({field.target.id})", cls.name, i, field.target.id
    for fn, callee, label, skip in scopes:
        a = fn.args
        positional = a.posonlyargs + a.args
        for p in positional[len(positional) - len(a.defaults):]:
            yield f"{label}({p.arg})", callee, positional.index(p) - skip, p.arg
        for p, d in zip(a.kwonlyargs, a.kw_defaults):
            if d is not None:
                yield f"{label}({p.arg})", callee, None, p.arg
        if a.kwarg:
            named = {p.arg for p in positional + a.kwonlyargs}
            yield f"{label}(**{a.kwarg.arg})", callee, None, named


def _unset_options() -> set[str]:
    """Labels of the options no call outside tests/ sets: by keyword or by
    position, and a ``**`` parameter by a keyword it does not name."""
    options, calls = [], {}
    for name in _tracked_python():
        with open(os.path.join(ROOT, name), encoding="utf-8") as fh:
            tree = ast.parse(fh.read(), name)
        if name.startswith("agraph_spark/"):
            module = name[len("agraph_spark/"):-len(".py")].replace("/", ".")
            options += _options(tree, module)
        if name.startswith(CALLERS):
            for node in ast.walk(tree):
                if isinstance(node, ast.Call):
                    f = node.func
                    callee = f.id if isinstance(f, ast.Name) else getattr(f, "attr", None)
                    calls.setdefault(callee, []).append(node)

    def is_set(callee, index, param) -> bool:
        for call in calls.get(callee, ()):
            keywords = {k.arg for k in call.keywords if k.arg is not None}
            if isinstance(param, set):
                if keywords - param:
                    return True
            elif param in keywords or (index is not None and len(call.args) > index):
                return True
        return False

    return {label for label, *spec in options if not is_set(*spec)}


def test_every_option_is_set_by_a_caller():
    """Every defaulted parameter of a public agraph_spark function is set
    by some call outside tests/, or is in KEPT_OPTIONS with its reason.
    An option only tests set always takes its default in use: it is a
    branch nothing runs."""
    unset = _unset_options()
    assert unset <= set(KEPT_OPTIONS), "\n".join(sorted(unset - set(KEPT_OPTIONS)))
    assert set(KEPT_OPTIONS) <= unset, "\n".join(sorted(set(KEPT_OPTIONS) - unset))


# Public functions and classes no code outside tests/ loads that stay
# anyway, each with its reason.
KEPT_FUNCTIONS = {
    "io.read_documents": "outside-input source: the extension-dispatched document reader",
    "io.import_lightrag_graphml": "outside-input source: a LightRAG GraphML export",
    "io.write_graph_json": "outside-output sink: the reference's graph.json export",
    "operators.graph_queries.graph_summary":
        "reference's signature: the summary report as text (graph_summary_lines' rows)",
    "operators.graph_queries.recommendations":
        "reference's signature: the recommendation strings (recommendations_df's rows)",
    "operators.graph_queries.remove_conversations":
        "reference's signature: lineage removal of conversations from a table",
    "operators.retrieval.chat": "reference's signature: chat over the graph and chunks",
    "operators.multimodal.fake_decoder": "seam: the deterministic stand-in media decoder",
    "operators.multimodal.sample_video_frames":
        "outside-input source: frame rows of video media before the decode",
    "operators.multimodal.media_stats": "outside-input source: metadata of a media table",
    "operators.vectors.cosine":
        "test reference: the inline cosine that cosine_hoisted is held to bit for bit",
    "operators.vectors.ivf_index":
        "seam: the KMeans centroid fit the entry's fixed IVF centroids stand in for",
    "streaming.stateful.start_first_seen_stream":
        "outside-input source: the file-source wiring of the first-seen stream",
    "streaming.windows.start_sessionized_stream":
        "outside-input source: the file-source wiring of the sessionized stream",
    "refload.reference_available": "test support: whether the reference runs live",
    "refload.reference_triples": "test support: the reference extractors on one document",
    "refload.load_reference_chunker": "test support: the reference chunkers",
    "refload.golden": "test support: the recorded reference outputs",
}


def _uncalled_functions() -> set[str]:
    """``module.name`` of every public top-level function and class in
    agraph_spark/ whose name no file in CALLERS loads (a bare name, an
    attribute or a from-import) outside that definition's own body."""
    declared, owners = [], {}
    for name in _tracked_python():
        if not name.startswith(CALLERS):
            continue
        with open(os.path.join(ROOT, name), encoding="utf-8") as fh:
            tree = ast.parse(fh.read(), name)
        module = name[len("agraph_spark/"):-len(".py")].replace("/", ".")
        library = name.startswith("agraph_spark/")
        for stmt in tree.body:
            owner = None
            if isinstance(stmt, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
                owner = (name, stmt.name)
                if library and not stmt.name.startswith("_"):
                    declared.append((owner, f"{module}.{stmt.name}"))
            for node in ast.walk(stmt):
                if isinstance(node, ast.Name) and isinstance(node.ctx, ast.Load):
                    loaded = [node.id]
                elif isinstance(node, ast.Attribute):
                    loaded = [node.attr]
                elif isinstance(node, ast.ImportFrom):
                    loaded = [alias.name for alias in node.names]
                else:
                    continue
                for n in loaded:
                    owners.setdefault(n, set()).add(owner)
    return {label for owner, label in declared if not owners.get(owner[1], set()) - {owner}}


def test_every_public_function_has_a_caller():
    """Every public top-level function and class in agraph_spark/ is loaded
    by some code outside tests/ other than its own body, or is in
    KEPT_FUNCTIONS with its reason. A function only tests call is a second
    implementation nothing runs in use, and it drifts from the one that
    does."""
    uncalled = _uncalled_functions()
    assert uncalled <= set(KEPT_FUNCTIONS), "\n".join(sorted(uncalled - set(KEPT_FUNCTIONS)))
    assert set(KEPT_FUNCTIONS) <= uncalled, "\n".join(sorted(set(KEPT_FUNCTIONS) - uncalled))
