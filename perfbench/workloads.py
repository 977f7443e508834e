"""The benchmark workloads.

Each workload generates its inputs from the seed, warms its own plan
shape, then runs its operation in a loop for the measuring window and
checks every output. Only public functions of ``agraph_spark`` modules
are called. The traced variants call the same functions one layer at a
time, with a span around each call and a persisted, counted result at
each layer boundary. Only the operation is timed; its outputs are checked
after the timer stops. NOTES.md says why each workload exists.
"""

from __future__ import annotations

import os
import time

import numpy as np
import pandas as pd
from pyspark.sql import functions as F

from agraph_spark import caching
from agraph_spark.io import read_graph, write_graph
from agraph_spark.materialize import build_edges, build_nodes, materialize_graph
from agraph_spark.operators import dedup_docs
from agraph_spark.operators.analytics import k_hop_neighbors
from agraph_spark.operators.fused import extract_documents_fused
from agraph_spark.operators.graph_queries import shortest_path
from agraph_spark.operators.integrity import enforce_referential_integrity
from agraph_spark.operators.linking import (
    canonical_mapping,
    lsh_candidate_pairs,
    merge_nodes,
    repoint_edges,
    score_candidates,
    stub_verify_model,
    verify_pairs_batched,
)
from agraph_spark.operators.reassemble import reassemble_conversations
from agraph_spark.operators.relations import (
    cooccurrence_relations,
    pattern_relations,
    to_triples,
    validate_relations,
)
from agraph_spark.operators.retrieval import chat_context, hybrid_search_chunks
from agraph_spark.operators.vectors import (
    embed_hash_stub,
    render_entity_text,
    render_relation_text,
)
from agraph_spark.pipeline import build_kg
from agraph_spark.schemas import TRANSCRIPTS
from agraph_spark.session import local_df
from agraph_spark.synth import make_transcripts

PIN_SEED = 42  # the seed whose outputs pinned.json records

# the k-hop / shortest-path driver cutover (components.bfs_distances,
# graph_queries.all_paths); the serving graph must stay 20% below it
CUTOVER_ROWS = 250_000

TRIPLE_COLS = ["conv_id", "subj", "pred", "obj", "conf"]
NODE_COLS = ["entity_id", "name", "name_norm", "entity_type", "confidence", "n_mentions"]
EDGE_COLS = ["edge_id", "head_id", "tail_id", "pred", "confidence", "n_support"]
CLOCK_TICKS = os.sysconf("SC_CLK_TCK")


# ------------------------------------------------------------------ helpers

def digest_agg(df, cols) -> str:
    """"rows:digest" in ONE aggregate job, where the digest is the sum of a
    64-bit hash of every row (order-independent, exact decimal). A build's
    terminal action, so counting and checking are one pass."""
    h = F.xxhash64(*[F.col(c) for c in cols]).cast("decimal(38,0)")
    r = df.agg(F.count(F.lit(1)).alias("n"), F.sum(h).alias("h")).collect()[0]
    return f"{int(r['n'])}:{r['h'] or 0}"


def cpu_seconds(root: int) -> float:
    """User + system CPU seconds of process ``root`` and all its descendants
    (here: the driver, its JVM and the JVM's Python workers), counting
    descendants that have exited through their parent's cutime/cstime.
    Unlike wall time it leaves out the time a shared host's other tenants
    take from the run."""
    procs = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            try:
                with open(f"/proc/{name}/stat") as fh:
                    f = fh.read().rsplit(")", 1)[1].split()
            except OSError:  # exited meanwhile
                continue
            # f[0] is field 3 (state): ppid, then utime, stime, cutime, cstime
            procs[int(name)] = (int(f[1]), sum(int(x) for x in f[11:15]))
    children: dict[int, list[int]] = {}
    for pid, (ppid, _) in procs.items():
        children.setdefault(ppid, []).append(pid)
    total, todo = 0, [root]
    while todo:
        pid = todo.pop()
        total += procs.get(pid, (0, 0))[1]
        todo.extend(children.get(pid, []))
    return total / CLOCK_TICKS


def dir_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(d, f)) for d, _, fs in os.walk(path) for f in fs)


def transcripts_pdf(seed: int, turns: int, **kw) -> pd.DataFrame:
    """Seeded conversations (synth.make_transcripts, 5% long ones by
    default), cut to the first conversations that hold at most ``turns``
    turns: every seed then gives the same amount of work."""
    pdf = make_transcripts(n_convs=turns // 2, seed=seed, **kw)
    sizes = pdf.groupby("conv_id", sort=True).size()
    return pdf[pdf["conv_id"].isin(sizes.index[sizes.cumsum() <= turns])]


def transcripts_frame(spark, turns: int, seed: int):
    """transcripts_pdf in shuffled row order, persisted and counted so a
    timed operation starts from memory."""
    pdf = transcripts_pdf(seed, turns)
    perm = np.random.default_rng(seed + 1).permutation(len(pdf))
    tdf = spark.createDataFrame(pdf.iloc[perm].reset_index(drop=True), schema=TRANSCRIPTS)
    tdf = tdf.persist()
    return tdf, tdf.count()


class Workload:
    """Set-up and measuring loop shared by the workloads.

    A subclass provides ``inputs`` (generate the seeded inputs), ``warm``
    (run the workload's own plan shape, build any served state), ``op``
    (one timed operation -> (items, outputs)), ``traced_op`` (the same
    operation layer by layer, under spans) and ``check`` (outputs -> error
    or None). ``prepare`` picks an operation's seeded parameters untimed."""

    item = "items"

    def __init__(self, spark, seed: int, work: str, tracer, pinned=None):
        self.spark, self.seed, self.work, self.tracer = spark, seed, work, tracer
        self.pinned = pinned  # outputs of the first operation at the pinned seed
        self.setup_parts: dict[str, list[float]] = {}
        self.named: dict = {}  # workload-specific figures for the detail line
        self.layers: dict[str, list] = {}  # per-layer values, one per traced op
        self.want = None

    def part(self, name: str, fn):
        t0 = time.perf_counter()
        out = fn()
        self.setup_parts.setdefault(name, []).append(time.perf_counter() - t0)
        return out

    def layer(self, name: str, value) -> None:
        self.layers.setdefault(name, []).append(value)

    def same_as_first(self, got) -> str | None:
        """The first operation's outputs are the reference for the rest of
        the run. At the pinned seed they must also equal the pinned ones
        (``pinned`` is None there only when pinned.json lacks the workload,
        which fails the check)."""
        got = [str(x) for x in got]
        if self.want is None:
            self.want = self.named["outputs"] = got
            if self.seed == PIN_SEED and got != self.pinned:
                return f"outputs {got} != pinned {self.pinned}"
            return None
        return None if got == self.want else f"outputs {got} != first op {self.want}"

    def prepare(self):
        return None

    def measure(self, seconds: float, traced: bool):
        """Closed loop, one client: run operations until the window is
        spent. In a traced run the first operation runs untraced: it is the
        overhead reference and fixes the outputs the traced ones must equal.
        Returns (latencies, items, errors); ``cpu_per_item`` gets each
        operation's CPU seconds per item."""
        lat, items, errors = [], 0, []
        self.cpu_per_item = []
        deadline = time.perf_counter() + seconds
        while len(lat) < 1 + traced or time.perf_counter() < deadline:
            self.tracer.enabled = traced and bool(lat)
            op = self.traced_op if self.tracer.enabled else self.op
            arg = self.prepare()
            try:
                with self.tracer.span("op") as rec:
                    cpu0 = cpu_seconds(os.getpid())
                    n, out = op(arg)
                    self.cpu_per_item.append((cpu_seconds(os.getpid()) - cpu0) / n)
                err = self.check(out)
            except Exception as exc:  # a failed operation counts; the run goes on
                n, err = 0, f"{type(exc).__name__}: {exc}"
            caching.release_caches(self.spark)
            lat.append(rec["end"] - rec["start"])
            items += n
            if err:
                errors.append(err)
        self.tracer.enabled = False
        return lat, items, errors


def traced_triples(wl, documents):
    """pipeline.build_kg (mode "fused") one layer at a time, from the
    reassembled documents. Returns (triples, entities)."""
    t = wl.tracer
    with t.span("reassemble"):
        documents = caching.track(documents)
        wl.layer("reassemble.docs_out", documents.count())
    with t.span("fused"):
        ext = caching.track(extract_documents_fused(documents))
        r = ext.agg(F.count(F.lit(1)), F.sum(F.size("ents")), F.sum(F.size("cands"))).collect()[0]
        wl.layer("fused.docs_in", r[0])
        wl.layer("fused.ents_out", r[1] or 0)
        wl.layer("fused.cands_out", r[2] or 0)
    entities = ext.select("conv_id", F.explode("ents").alias("e")).select(
        "conv_id", "e.name", "e.name_norm", "e.entity_type", "e.confidence", "e.entity_order")
    candidates = ext.select("conv_id", F.explode("cands").alias("c")).select(
        "conv_id", "c.pred", "c.head_text", "c.tail_text")
    with t.span("relations.pattern"):
        pat = caching.track(pattern_relations(candidates, entities))
        pat.count()
    with t.span("relations.cooccur"):
        coo = caching.track(cooccurrence_relations(ext.select("conv_id", "text"), entities))
        wl.layer("relations.cooccur_hits", coo.count())
    with t.span("relations.validate"):
        rel = caching.track(validate_relations(pat.unionByName(coo)))
        n_rel = rel.count()
    with t.span("relations.dedup"):
        tri = caching.track(to_triples(rel))
        n_tri = tri.count()
    wl.layer("relations.relations_out", n_rel)
    wl.layer("relations.triples_out", n_tri)
    wl.layer("relations.dedup_ratio", n_tri / n_rel if n_rel else 0.0)
    return tri, entities


# ---------------------------------------------------------- transcripts_batch

class TranscriptsBatch(Workload):
    """North-rule job: persisted transcripts -> triples -> linked graph written."""

    item = "turns"
    TURNS = 2500

    def inputs(self):
        self.tdf, self.n_turns = transcripts_frame(self.spark, self.TURNS, self.seed)

    def warm(self):
        # at full size: after a smaller warm-up the first timed op runs slower
        warm, _ = transcripts_frame(self.spark, self.TURNS, self.seed + 7)
        self.part("warmup.busy_s", lambda: self._submit(warm, f"{self.work}/warm"))
        warm.unpersist()

    def _submit(self, tdf, out_dir):
        """build_kg -> triples digest, then materialize -> write.
        Returns (build seconds, graph seconds, triples digest)."""
        t0 = time.perf_counter()
        b = build_kg(tdf)
        tri = digest_agg(b.triples, TRIPLE_COLS)
        t1 = time.perf_counter()
        nodes, edges = materialize_graph(b.entities, b.triples)
        write_graph(nodes, edges, out_dir)
        return t1 - t0, time.perf_counter() - t1, tri

    def check(self, out):
        tri, out_dir = out
        g = read_graph(self.spark, out_dir)
        return self.same_as_first([tri, digest_agg(g["nodes"], NODE_COLS),
                                   digest_agg(g["edges"], EDGE_COLS)])

    def op(self, _):
        out = f"{self.work}/graph"
        build_s, graph_s, tri = self._submit(self.tdf, out)
        self.named.setdefault("_build", []).append(build_s)
        self.named.setdefault("_graph", []).append(build_s + graph_s)
        return self.n_turns, (tri, out)

    def traced_op(self, _):
        t = self.tracer
        out = f"{self.work}/graph"
        tri_df, entities = traced_triples(self, reassemble_conversations(self.tdf))
        tri = digest_agg(tri_df, TRIPLE_COLS)
        with t.span("materialize.nodes"):
            nodes = caching.track(build_nodes(entities))
            nodes.count()
        with t.span("materialize.edges"):
            edges = caching.track(build_edges(tri_df))
            edges.count()
        # materialize_graph's link step (linking.link_entities), layer by layer
        with t.span("linking.lsh"):
            cands = caching.track(lsh_candidate_pairs(nodes, num_hash_tables=4))
            n_cands = cands.count()
        with t.span("linking.verify"):
            confirmed = caching.track(
                verify_pairs_batched(score_candidates(cands, 0.7), stub_verify_model)
                .where(F.col("is_duplicate")).select("id_a", "id_b"))
            n_conf = confirmed.count()
        with t.span("linking.canonical"):
            mapping = caching.track(canonical_mapping(confirmed))
            mapping.count()
        with t.span("integrity"):
            merged = caching.track(merge_nodes(nodes, mapping))
            linked = caching.track(
                enforce_referential_integrity(merged, repoint_edges(edges, mapping)))
            linked.count()
        with t.span("io.write"):
            write_graph(merged, linked, out)
        self.layer("linking.candidate_pairs", n_cands)
        self.layer("linking.confirmed_pairs", n_conf)
        self.layer("linking.confirm_ratio", n_conf / n_cands if n_cands else 0.0)
        self.layer("io.bytes_written", dir_bytes(out))
        return self.n_turns, (tri, out)


# ----------------------------------------------------------------- docs_dedup

FILLER = [a + b + c for a in ("ba", "ko", "mi", "ru", "te", "zo", "la", "ni", "pu", "se")
          for b in ("r", "l", "n", "s", "m") for c in ("ak", "el", "in", "os", "ut", "ar")]


def make_documents(seed: int, n_docs: int, n_dups: int):
    """Long one-row documents: each is one synthetic conversation's turns on
    one line, interleaved with lowercase filler words so most 3-word
    shingles are rare, as in real text. ``n_dups`` copies with 5% of words
    replaced are appended. Returns (frame, injected (original, copy) ids)."""
    rng = np.random.default_rng(seed)
    # no long tail: documents of similar length, so each seed gives similar work
    turns = make_transcripts(n_convs=n_docs, seed=seed + 11, mean_turns=8, long_tail=False)
    texts = []
    for _, g in turns.sort_values(["conv_id", "turn_idx"]).groupby("conv_id", sort=True):
        words = []
        for t in g["text"]:
            words.append(t)
            words.extend(rng.choice(FILLER, size=int(rng.integers(3, 8))))
        texts.append(" ".join(words))
    pairs = []
    for src in sorted(rng.choice(n_docs, size=n_dups, replace=False).tolist()):
        words = texts[src].split(" ")
        edit = rng.random(len(words)) < 0.05
        words = [str(rng.choice(FILLER)) if e else w for w, e in zip(words, edit)]
        pairs.append((src, len(texts)))
        texts.append(" ".join(words))
    ids = np.arange(len(texts), dtype="int64")
    return pd.DataFrame({"doc_id": ids, "conv_id": [f"doc{i:06d}" for i in ids], "text": texts}), pairs


class DocsDedup(Workload):
    """The set-similarity joins on long one-row documents, with injected
    near-duplicates. Extraction on the same documents runs the layers
    transcripts_batch already measures, and its many short jobs made the
    operation too noisy to compare runs (NOTES.md)."""

    item = "docs"
    N_DOCS, N_DUPS = 400, 40

    def inputs(self):
        self.docs, self.pairs = self._frame(self.N_DOCS, self.N_DUPS, self.seed)
        self.n_docs = self.N_DOCS + self.N_DUPS

    def warm(self):
        # at full size, three passes: operations keep speeding up for several
        # passes after a cold start (4.3, 3.6, 3.5 s after two)
        docs, _ = self._frame(self.N_DOCS, self.N_DUPS, self.seed + 7)
        self.part("warmup.busy_s", lambda: [self._pass(docs) for _ in range(3)])
        docs.unpersist()

    def _frame(self, n, d, seed):
        pdf, pairs = make_documents(seed, n, d)
        df = self.spark.createDataFrame(pdf).persist()
        df.count()
        return df, pairs

    @staticmethod
    def _pass(docs):
        ng = dedup_docs.ngram_jaccard_pairs(docs, threshold=0.2, n=3).select("doc_a", "doc_b").collect()
        return ng, dedup_docs.minhash_lsh_pairs(docs, threshold=0.3).count()

    def check(self, out):
        ng, mh = out
        found = {(r[0], r[1]) for r in ng}
        missing = [p for p in self.pairs if p not in found]
        if missing:
            return f"{len(missing)} injected near-duplicate pairs not found, e.g. {missing[:3]}"
        return self.same_as_first([len(found), mh])

    def op(self, _):
        return self.n_docs, self._pass(self.docs)

    def traced_op(self, _):
        t = self.tracer
        with t.span("dedup_docs.shingle"):
            sh = caching.track(dedup_docs.shingle_table(self.docs, n=3))
            self.layer("dedup_docs.shingles", sh.count())
        with t.span("dedup_docs.ngram"):
            ng = dedup_docs.ngram_jaccard_pairs(self.docs, threshold=0.2, n=3) \
                .select("doc_a", "doc_b").collect()
        with t.span("dedup_docs.minhash_sig"):
            caching.track(dedup_docs.minhash_signatures(self.docs)).count()
        with t.span("dedup_docs.minhash"):
            mh = dedup_docs.minhash_lsh_pairs(self.docs, threshold=0.3).count()
        self.layer("dedup_docs.ngram_pairs", len(ng))
        self.layer("dedup_docs.minhash_pairs", mh)
        return self.n_docs, (ng, mh)


# -------------------------------------------------------------- graph_serving

class GraphServing(Workload):
    """Read side: one closed-loop client over a KG built in set-up. One
    operation is a cycle of every query kind once, in a seeded order: the
    kinds differ up to threefold in latency, so the median of single
    queries jumps between kinds, where that of whole cycles does not."""

    item = "queries"
    TURNS = 1000
    KINDS = {"khop": "components.khop", "path": "graph_queries.shortest_path",
             "chat": "retrieval.chat_context", "hybrid": "retrieval.hybrid"}
    WARM_CYCLES = 3

    def inputs(self):
        self.tdf, _ = transcripts_frame(self.spark, self.TURNS, self.seed)

    def warm(self):
        self.part("serving.graph_build_s", self._build)
        rng = np.random.default_rng(self.seed + 9)
        # queries keep speeding up for several cycles
        self.part("warmup.busy_s", lambda: [self._warm_query(kind, rng)
                                            for _ in range(self.WARM_CYCLES) for kind in self.KINDS])

    def _warm_query(self, kind, rng):
        call, check = self._query(kind, rng)
        err = check(call())
        if err:
            raise RuntimeError(f"serving warm-up check failed: {err}")

    def _build(self):
        """KG -> serving store (nodes, edges, rendered + embedded tables),
        written and read back, as a server would load it."""
        store = f"{self.work}/serving"
        b = build_kg(self.tdf)
        nodes, edges = materialize_graph(b.entities, b.triples, link=False)
        names = nodes.select("entity_id", "name")
        rendered = render_relation_text(
            edges.join(names.toDF("head_id", "head_name"), "head_id", "left")
            .join(names.toDF("tail_id", "tail_name"), "tail_id", "left")
            .withColumn("description", F.lit("")))
        chunks = b.documents.select(
            F.col("conv_id").alias("chunk_id"), F.lit("").alias("title"),
            F.col("text").alias("content"), F.col("text").alias("render_text"))
        write_graph(nodes, edges, store)
        ents = render_entity_text(nodes.withColumn("description", F.lit("")))
        embed_hash_stub(ents).write.mode("overwrite").parquet(f"{store}/nodes_emb")
        embed_hash_stub(rendered).write.mode("overwrite").parquet(f"{store}/edges_emb")
        embed_hash_stub(chunks).write.mode("overwrite").parquet(f"{store}/chunks_emb")
        caching.release_caches(self.spark)
        self.tdf.unpersist()
        rd = self.spark.read.parquet
        self.edges = rd(f"{store}/edges").persist()
        self.nodes_emb = rd(f"{store}/nodes_emb").persist()
        self.edges_emb = rd(f"{store}/edges_emb").persist()
        self.chunks_emb = rd(f"{store}/chunks_emb").persist()
        self.store_digest = [digest_agg(rd(f"{store}/nodes"), NODE_COLS),
                             digest_agg(self.edges, EDGE_COLS)]
        pairs = [(r[0], r[1]) for r in self.edges.select("head_id", "tail_id").collect()]
        adj_rows = 2 * len(pairs)  # bfs_distances' undirected adjacency
        if adj_rows > 0.8 * CUTOVER_ROWS:
            raise RuntimeError(f"serving graph has {adj_rows} adjacency rows, within 20% "
                               f"of the {CUTOVER_ROWS}-row driver cutover; lower TURNS")
        self.layer("components.adjacency_rows", adj_rows)
        self.out_nb, self.und_nb = {}, {}
        for a, c in pairs:
            self.out_nb.setdefault(a, set()).add(c)
            self.und_nb.setdefault(a, set()).add(c)
            self.und_nb.setdefault(c, set()).add(a)
        self.ids = sorted(self.und_nb)
        self.heads = sorted(self.out_nb)
        self.chunk_texts = [r[0] for r in self.chunks_emb.orderBy("chunk_id").select("content").collect()]
        self.entity_names = [r[0] for r in self.nodes_emb.orderBy("entity_id").select("name").collect()]
        self.rng = np.random.default_rng(self.seed + 5)

    @staticmethod
    def _bfs(nb, start, max_depth):
        """Plain-Python BFS: node -> hop distance, up to max_depth."""
        dist, frontier = {start: 0}, [start]
        for d in range(1, max_depth + 1):
            frontier = [v for u in frontier for v in nb.get(u, ()) if v not in dist]
            frontier = list(dict.fromkeys(frontier))
            for v in frontier:
                dist[v] = d
            if not frontier:
                break
        return dist

    def _query_vec(self, text):
        q = embed_hash_stub(local_df(self.spark, [(text,)], "render_text string"))
        return q.select(F.col("embedding").alias("query_vec"))

    def _query(self, kind, rng):
        """One query of ``kind`` with seeded parameters: (call, check).
        ``call()`` runs the program's query and collects every row;
        ``check(rows)`` returns an error or None."""
        if kind == "khop":
            start = self.ids[int(rng.integers(len(self.ids)))]
            want = {(v, d) for v, d in self._bfs(self.und_nb, start, 2).items() if d > 0}

            def check(rows):
                got = {(r[0], r[1]) for r in rows}
                return None if got == want else f"k-hop from {start}: {len(got)} rows, BFS {len(want)}"
            return lambda: k_hop_neighbors(self.edges, start, k=2).collect(), check
        if kind == "path":
            for _ in range(50):  # a source with a target 2-3 hops away
                a = self.heads[int(rng.integers(len(self.heads)))]
                dist = self._bfs(self.out_nb, a, 3)
                far = sorted(v for v, d in dist.items() if d >= 2)
                if far:
                    break
            else:
                far = sorted(self.out_nb[a])
            b = far[int(rng.integers(len(far)))]

            def check(rows):
                if len(rows) != 1 or rows[0]["depth"] != dist[b]:
                    return f"shortest path {a}->{b}: {[r.asDict() for r in rows]}, BFS depth {dist[b]}"
                path = list(rows[0]["path"])
                ok = path[0] == a and path[-1] == b and all(
                    v in self.out_nb.get(u, ()) for u, v in zip(path, path[1:]))
                return None if ok else f"shortest path {a}->{b} is not a path: {path}"
            return lambda: shortest_path(self.edges, a, b, max_depth=3).collect(), check
        if kind == "chat":
            text = f"{self.entity_names[int(rng.integers(len(self.entity_names)))]} pipeline"

            def check(rows):
                ok = len(rows) == 1 and (rows[0]["n_entities"], rows[0]["n_relations"],
                                          rows[0]["n_chunks"]) == (5, 5, 5)
                return None if ok else f"chat_context for {text!r}: {[r.asDict() for r in rows]}"
            return lambda: chat_context(self.nodes_emb, self.edges_emb, self.chunks_emb,
                                        self._query_vec(text), threshold=-1.0).collect(), check
        words = self.chunk_texts[int(rng.integers(len(self.chunk_texts)))].split()
        s = int(rng.integers(max(1, len(words) - 3)))
        text = " ".join(words[s:s + 3])

        def check(rows):
            scores = [r["hybrid_score"] for r in rows]
            ok = len(rows) == 10 and scores == sorted(scores, reverse=True)
            return None if ok else f"hybrid_search_chunks for {text!r}: {len(rows)} rows"
        return lambda: hybrid_search_chunks(self.chunks_emb, text, self._query_vec(text),
                                            k=10).collect(), check

    def prepare(self):
        kinds = [list(self.KINDS)[i] for i in self.rng.permutation(len(self.KINDS))]
        return [(kind, *self._query(kind, self.rng)) for kind in kinds]

    def op(self, queries):
        out = []
        for kind, call, check in queries:
            with self.tracer.span(self.KINDS[kind]):
                out.append((check, call()))
        return len(out), out

    traced_op = op

    def check(self, out):
        errs = [err for check, rows in out if (err := check(rows))]
        if self.want is None:  # the first cycle also checks the served graph
            errs += [err for err in [self.same_as_first(self.store_digest)] if err]
        return "; ".join(errs) or None


WORKLOADS = {
    "transcripts_batch": TranscriptsBatch,
    "docs_dedup": DocsDedup,
    "graph_serving": GraphServing,
}
