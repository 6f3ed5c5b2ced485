"""The benchmark's four workloads: seeded inputs, one operation, and the
check of that operation's output.

Every input comes from `datagen.corpus_distributed(seed=...)`, which is
byte-deterministic and encodes ground truth in its conv_ids
(`f<family>_m<member>`), so the program only ever sees generated,
materialized data, and every output can be checked.

Each workload is a class with the same five steps:
  make_inputs()  generate and materialize the inputs (part of set-up);
  warm_up()      one untimed run of the operation's code paths, so JIT,
                 Python workers and the C kernels are settled before timing
                 (part of set-up); returns the set-up check's problems;
  op(i)          the timed operation, up to a materialized result;
  check(out)     run after the timer stops: (problems, quality);
  layer_extras() ratios and sizes for the per-layer report.
"""

from __future__ import annotations

import os
import shutil
from contextlib import contextmanager

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from entity_resolver_spark import EntityResolverPipeline, ResolverConfig, SparkEntityResolver
from entity_resolver_spark.datagen import corpus_distributed, pairwise_prf
from entity_resolver_spark.lineage import release_checkpoint
from entity_resolver_spark.operators.report import content_hash

# Sizes were measured on a 4-core host: at "bench" every operation stays in
# the range where the resolver's per-pass constants dominate, which keeps a
# run short enough for repeated seeded runs. "tiny" is for smoke tests.
SIZES = {
    "bench": {
        "linear": {"families": 300, "members": 4},
        "viral": {"families": 200, "members": 4, "viral_members": 400},
        "assign": {"fit_families": 50, "batch_families": 40, "batches": 3},
        "neardup": {"families": 75, "members": 4, "queries": 10},
    },
    "tiny": {
        "linear": {"families": 20, "members": 3},
        "viral": {"families": 15, "members": 3, "viral_members": 30},
        "assign": {"fit_families": 20, "batch_families": 10, "batches": 2},
        "neardup": {"families": 30, "members": 3, "queries": 5},
    },
}

# North rule: pairwise F1 at the shared blocking key.
MIN_F1 = 0.99

# CheckpointManager stage -> the module whose work its materialization runs.
STAGE_LAYER = {
    "collapse": "collapse",
    "normalize": "normalize",
    "token_stats": "vectorize",
    "vectorize": "vectorize",
    "pairs": "blocking",
    "pair_scores": "pairs",
    "edges": "pairs",
    "components": "components",
    "clustered": "validate",  # the stage's own cut runs splits/consolidate
    "canonical": "canonical",
    "resolved": "confidence",  # enrich_metadata + score_confidence
}
# Pipeline pass (its `clustered.*` / `resolved.*` metrics row) -> module.
PASS_LAYER = {
    "attach_labels": "components",
    "break_bridges": "communities",
    "merge_vector": "refine",
    "evict_outliers": "refine",
    "reassign_singletons": "refine",
    "merge_string": "refine",
    "splits_consolidate": "validate",
    "canonical_map_fd": "validate",
}


def _materialize(df: DataFrame) -> DataFrame:
    return df.localCheckpoint(eager=True)


def _dir_mb(path: str) -> float:
    total = 0
    for d, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(d, f)) for f in files)
    return total / 2**20


def pinned_mb(spark) -> float:
    """Storage still held by cached or checkpointed RDDs."""
    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    return sum(i.memSize() + i.diskSize() for i in infos) / 2**20


def relabel_passes(tracer, op: str, metrics: list[dict]) -> None:
    """Name each `segment` span of a stage after the pipeline's own metrics
    row for it: the pipeline appends a `clustered.<pass>`/`resolved.<pass>`
    row at each pass boundary, so the j-th segment is the j-th row. A
    segment past the last row is the stage's own tail."""
    for stage in (s for s in tracer.spans if s.op == op and s.name.startswith("stage:")):
        name = stage.name.split(":", 1)[1]
        rows = [m["stage"].split(".", 1)[1] for m in metrics if m["stage"].startswith(name + ".")]
        segments = [s for s in tracer.spans if s.parent == stage.id and s.name == "segment"]
        for j, seg in enumerate(segments):
            seg.name = rows[j] if j < len(rows) else f"{name}:compute"
            seg.layer = PASS_LAYER.get(seg.name, STAGE_LAYER.get(name, "lineage"))


class Workload:
    quality_name = "quality"

    def __init__(self, spark, seed: int, size: dict, tracer, workdir: str) -> None:
        self.spark = spark
        self.seed = seed
        self.size = size
        self.tracer = tracer
        self.workdir = workdir
        self.n_turns = 0  # input turns of one operation
        self.n_docs = 0   # input conversations (documents) of one operation
        self._inputs: list[DataFrame] = []

    def _keep(self, df: DataFrame) -> DataFrame:
        df = _materialize(df)
        self._inputs.append(df)
        return df

    def release_inputs(self) -> None:
        for df in self._inputs:
            release_checkpoint(df)
        self._inputs = []

    def input_hash(self) -> str:
        return "|".join(content_hash(df) for df in self._inputs)

    def layer_extras(self) -> dict[str, float]:
        return {}


# ---------------------------------------------------------------------------
# linear / viral: one EntityResolverPipeline.resolve per operation
# ---------------------------------------------------------------------------

class Resolve(Workload):
    """One resolve up to a counted result; checked by pairwise F1."""

    quality_name = "pairwise_f1"
    checkpointed = False

    def make_inputs(self) -> None:
        self.release_inputs()
        s = self.size
        self.turns = self._keep(corpus_distributed(
            self.spark, s["families"], members=s["members"], seed=self.seed,
            viral_families=1 if "viral_members" in s else 0,
            viral_members=s.get("viral_members", 0),
        ))
        row = self.turns.agg(F.count("*").alias("n"), F.countDistinct("conv_id").alias("c")).first()
        self.n_turns, self.n_docs = row["n"], row["c"]

    def _config(self, tag: str) -> ResolverConfig:
        cfg = ResolverConfig()
        if self.checkpointed:
            d = os.path.join(self.workdir, f"ckpt-{tag}")
            shutil.rmtree(d, ignore_errors=True)
            cfg.output.checkpoint_dir = d
        return cfg

    def warm_up(self) -> list[str]:
        return self.check(self.op("warm"))[0]

    def op(self, i):
        pipe = EntityResolverPipeline(self._config(str(i)))
        root = self.tracer.begin("resolve", "op")
        res = pipe.resolve(self.spark, self.turns)
        self.tracer.end_gates()
        n = res.count()
        self.tracer.end(root, rows_out=n)
        if root is not None:
            relabel_passes(self.tracer, self.tracer.op, pipe.metrics)
        return res, n, pipe

    def check(self, out):
        res, n, pipe = out
        self.last_metrics = pipe.metrics
        problems = []
        if n != self.n_docs:
            problems.append(f"{n} resolved rows for {self.n_docs} conversations")
        f1 = pairwise_prf(res)["f1"]
        if f1 < MIN_F1:
            problems.append(f"pairwise F1 {f1:.4f} < {MIN_F1}")
        if self.checkpointed:
            d = pipe.config.output.checkpoint_dir
            self.write_mb = _dir_mb(d)
            shutil.rmtree(d, ignore_errors=True)
        return problems, f1

    def layer_extras(self):
        return _pipeline_extras(getattr(self, "last_metrics", []),
                                getattr(self, "write_mb", 0.0))


def _pipeline_extras(metrics: list[dict], write_mb: float) -> dict[str, float]:
    rows = {m["stage"]: m for m in metrics}
    cand = rows.get("pairs", {}).get("rows", 0)
    edges = rows.get("edges", {}).get("match_edges", 0)
    return {
        "blocking.rows_out": cand,
        "blocking.pair_yield": edges / cand if cand else 0.0,
        "pairs.rows_out": edges,
        "checkpoint.write_mb": write_mb,
    }


class Linear(Resolve):
    """Many small families, durable checkpoints: per-pass constants,
    checkpoint writes and record-frame stages dominate."""

    checkpointed = True


class Viral(Resolve):
    """One heavy-hitter family: salted ring blocks, kernel scoring and label
    propagation over one giant component, in-memory cuts only."""


# ---------------------------------------------------------------------------
# assign: one SparkEntityResolver.transform batch per operation
# ---------------------------------------------------------------------------

class Assign(Workload):
    """Set-up fits a linear-shaped corpus; each operation assigns a fresh,
    pre-generated batch of new families plus a 10% replay slice of fitted
    conversations. Replays must come back assigned, new families not."""

    quality_name = "assign_accuracy"

    def make_inputs(self) -> None:
        """All batches are generated and materialized together, tagged with
        a `batch` column: k < batches are the timed ones, k == batches is the
        smaller warm-up batch. New families take ids past the fitted range,
        so their anchors are disjoint from every fitted family."""
        self.release_inputs()
        fit_n, n_b, b = self.size["fit_families"], self.size["batches"], self.size["batch_families"]
        r = max(1, b // 10)  # replayed families per batch: 10% of its conversations
        self.fit_turns = self._keep(corpus_distributed(self.spark, fit_n, members=4, seed=self.seed))
        family = F.regexp_extract("conv_id", r"^f(\d+)_", 1).cast("long")
        new = (
            corpus_distributed(self.spark, fit_n + n_b * b + r, members=4, seed=self.seed)
            .where(family >= fit_n)
            .withColumn("batch", F.least((family - fit_n) / b, F.lit(n_b)).cast("int"))
            .withColumn("conv_id", F.concat(F.lit("new_"), "conv_id"))
        )
        replay = (
            self.fit_turns.where(family <= n_b * r)
            .withColumn("batch", F.least(family / r, F.lit(n_b)).cast("int"))
            .withColumn("conv_id", F.concat(F.lit("rep_"), "conv_id"))
        )
        tagged = self._keep(new.unionByName(replay))
        sizes = {
            row["batch"]: (row["n"], row["c"])
            for row in tagged.groupBy("batch")
            .agg(F.count("*").alias("n"), F.countDistinct("conv_id").alias("c")).collect()
        }
        self.batches = [(tagged.where(F.col("batch") == k).drop("batch"), sizes[k])
                        for k in range(n_b + 1)]
        self.n_turns, self.n_docs = sizes[0]

    def warm_up(self) -> list[str]:
        # in-memory cuts: a durable checkpoint_dir would add parquet writes
        # to every run's set-up; `linear` is the workload that measures them
        root = self.tracer.begin("fit", "op")
        self.model = SparkEntityResolver().fit(self.spark, self.fit_turns)
        self.tracer.end_gates()
        self.tracer.end(root)
        if root is not None:
            relabel_passes(self.tracer, self.tracer.op, self.model.metrics)
        problems = []
        f1 = pairwise_prf(self.model.resolved_)["f1"]
        if f1 < MIN_F1:
            problems.append(f"fit pairwise F1 {f1:.4f} < {MIN_F1}")
        # the first transform derives the fitted state (predict.derive_fitted_state)
        problems += self.check(self._assign(len(self.batches) - 1))[0]
        return problems

    def _assign(self, k: int):
        batch, (self.n_turns, self.n_docs) = self.batches[k]
        root = self.tracer.begin("assign_new", "predict")
        rows = self.model.transform(self.spark, batch).select("conv_id", "assigned").collect()
        self.tracer.end(root, rows_out=len(rows))
        return rows

    def op(self, i):
        return self._assign(i % (len(self.batches) - 1))

    def check(self, rows):
        wrong = [r["conv_id"] for r in rows if r["assigned"] != r["conv_id"].startswith("rep_")]
        self.rows_out = len(rows)
        problems = [f"{len(wrong)} wrong assigned flags, e.g. {wrong[:3]}"] if wrong else []
        if len(rows) != self.n_docs:
            problems.append(f"{len(rows)} assignments for {self.n_docs} conversations")
        return problems, 1.0 - len(wrong) / max(1, len(rows))

    def layer_extras(self):
        out = _pipeline_extras(self.model.metrics, 0.0)
        out["predict.rows_out"] = getattr(self, "rows_out", 0)
        return out


# ---------------------------------------------------------------------------
# neardup: one sweep of the near-dup and ANN operators
# ---------------------------------------------------------------------------

DEDUP_OPS = ("minhash", "simhash", "ngram", "embedding")
ANN_OPS = ("brute_force_topk", "ivf_topk")
_DOC_STRIDE = 1000  # doc_id = family * stride + member


class NearDup(Workload):
    """The seeded corpus collapsed to documents, plus hash embeddings. Each
    operation runs every near-dup and top-k operator and materializes each
    output (a local checkpoint forces every column, as a noop sink would,
    and keeps the small output for the check). The warm-up is one such
    operation: its digests are the reference every timed operation must
    reproduce, and its pairs give each near-dup operator's recall."""

    quality_name = "neardup_family_recall"

    def make_inputs(self) -> None:
        from entity_resolver_spark.functions.embed import embed_texts
        from entity_resolver_spark.operators.collapse import collapse_turns

        self.release_inputs()
        s = self.size
        turns = corpus_distributed(self.spark, s["families"], members=s["members"], seed=self.seed)
        family = F.regexp_extract("conv_id", r"^f(\d+)_m(\d+)$", 1).cast("long")
        member = F.regexp_extract("conv_id", r"^f(\d+)_m(\d+)$", 2).cast("long")
        docs = self._keep(collapse_turns(turns).select(
            (family * _DOC_STRIDE + member).alias("doc_id"), F.col("doc").alias("text"), "n_turns"))
        self.docs = docs.drop("n_turns")
        self.emb = self._keep(
            embed_texts(self.docs.withColumnRenamed("doc_id", "vec_id"), text_col="text")
            .select("vec_id", F.col("embedding").cast("array<double>").alias("embedding"))
        )
        self.queries = self.emb.where(
            (F.col("vec_id") % _DOC_STRIDE == 0) & (F.col("vec_id") < s["queries"] * _DOC_STRIDE)
        ).withColumnRenamed("vec_id", "query_id")
        rows = docs.select("doc_id", "n_turns").collect()
        self.doc_ids = [r["doc_id"] for r in rows]
        self.n_turns = sum(r["n_turns"] for r in rows)
        self.n_docs = len(self.doc_ids)

    def _operators(self):
        from entity_resolver_spark.operators import ann, dedup

        return {
            "minhash": ("dedup", lambda: dedup.minhash_lsh_pairs(self.docs)),
            "simhash": ("dedup", lambda: dedup.simhash_pairs(self.docs)),
            "ngram": ("dedup", lambda: dedup.ngram_jaccard_pairs(self.docs)),
            "embedding": ("dedup", lambda: dedup.embedding_dup_pairs(self.emb)),
            "brute_force_topk": ("ann", lambda: ann.brute_force_topk(self.emb, self.queries)),
            "ivf_topk": ("ann", lambda: ann.ivf_topk(self.emb, self.queries)),
        }

    def warm_up(self) -> list[str]:
        outs = self.op("warm")
        self.reference = self._digests(outs)
        fams: dict[int, int] = {}
        for d in self.doc_ids:
            fams[d // _DOC_STRIDE] = fams.get(d // _DOC_STRIDE, 0) + 1
        truth = sum(n * (n - 1) // 2 for n in fams.values())
        self.recall, found = {}, set()
        for name in DEDUP_OPS:
            pairs = {(min(a, b), max(a, b))
                     for a, b in outs[name].select("id_a", "id_b").collect()
                     if a // _DOC_STRIDE == b // _DOC_STRIDE}
            self.recall[name] = len(pairs) / truth if truth else 1.0
            found |= pairs
        self.family_recall = len(found) / truth if truth else 1.0
        self._release(outs)
        return []

    def op(self, i):
        root = self.tracer.begin("sweep", "op")
        outs = {}
        for name, (layer, build) in self._operators().items():
            with self.tracer.span(name, layer):
                outs[name] = _materialize(build())
        self.tracer.end(root)
        return outs

    @staticmethod
    def _digests(outs: dict[str, DataFrame]) -> dict[str, str]:
        return {name: content_hash(df) for name, df in outs.items()}

    @staticmethod
    def _release(outs: dict[str, DataFrame]) -> None:
        for df in outs.values():
            release_checkpoint(df)

    def check(self, outs):
        digests = self._digests(outs)
        self._release(outs)
        bad = [n for n, h in digests.items() if h != self.reference[n]]
        self.rows_out = {n: int(h.split(":")[0]) for n, h in digests.items()}
        problems = [f"content hash differs from the warm-up sweep: {bad}"] if bad else []
        return problems, self.family_recall

    def layer_extras(self):
        rows = getattr(self, "rows_out", {})
        out = {f"dedup.{n}_recall": self.recall[n] for n in DEDUP_OPS}
        out["dedup.rows_out"] = sum(rows.get(n, 0) for n in DEDUP_OPS)
        out["ann.rows_out"] = sum(rows.get(n, 0) for n in ANN_OPS)
        return out


WORKLOADS = {"linear": Linear, "viral": Viral, "assign": Assign, "neardup": NearDup}


@contextmanager
def probes(tracer):
    """Wrap the calls that materialize a layer's work in spans, by swapping
    the module references the program calls through, and restore them on
    exit. Each wrapper is a pass-through while the tracer is disabled.

      CheckpointManager.stage      span `stage:<name>`, layer checkpoint: its
                                   self time is the manager's overhead
                                   (re-read, count, manifest, metrics row);
      the stage's compute()        `segment` spans: compute runs the pipeline's
        and pipeline.eager_cut     passes eagerly, each ending in a cut, so a
                                   segment runs from one cut to the next and
                                   relabel_passes names it after the pass;
      checkpoint.eager_cut,        the materialization of the plan compute
      sinks.write_table            returns; layer of the stage (STAGE_LAYER);
      resolver/predict.eager_cut   predict.derive_fitted_state's tables.

    After the `resolved` stage a `q1_q2_gates` span (validate) stays open
    until the caller closes it with `tracer.end_gates()`."""
    from entity_resolver_spark import checkpoint, pipeline, resolver, sinks
    from entity_resolver_spark.operators import predict

    current = ["-"]
    segment = [None]

    def spanned(fn, name, layer):
        def wrapper(*args, **kwargs):
            s = tracer.begin(name() if callable(name) else name,
                             layer() if callable(layer) else layer)
            try:
                return fn(*args, **kwargs)
            finally:
                tracer.end(s)
        return wrapper

    def segmented(compute):
        def run():
            segment[0] = tracer.begin("segment", "lineage")
            try:
                return compute()
            finally:
                tracer.end(segment[0])
                segment[0] = None
        return run

    orig_cut = pipeline.eager_cut

    def pass_cut(df):
        out = orig_cut(df)
        if segment[0] is not None:
            tracer.end(segment[0])
            segment[0] = tracer.begin("segment", "lineage")
        return out

    orig_stage = checkpoint.CheckpointManager.stage

    def stage(self, name, compute, extra_metrics=None):
        if not tracer.enabled:
            return orig_stage(self, name, compute, extra_metrics)
        s = tracer.begin(f"stage:{name}", "checkpoint")
        current[0] = name
        try:
            return orig_stage(self, name, segmented(compute), extra_metrics)
        finally:
            tracer.end(s)
            if name == "resolved":
                tracer.gates = tracer.begin("q1_q2_gates", "validate")

    stage_layer = lambda: STAGE_LAYER.get(current[0], "lineage")  # noqa: E731
    swaps = [
        (checkpoint.CheckpointManager, "stage", stage),
        (checkpoint, "eager_cut",
         spanned(checkpoint.eager_cut, lambda: f"{current[0]}:eager_cut", stage_layer)),
        (sinks, "write_table",
         spanned(sinks.write_table, lambda: f"{current[0]}:write_table", stage_layer)),
        (pipeline, "eager_cut", pass_cut),
        (resolver, "eager_cut", spanned(resolver.eager_cut, "derive_fitted_state", "predict")),
        (predict, "eager_cut", spanned(predict.eager_cut, "derive_fitted_state", "predict")),
    ]
    saved = [(obj, attr, getattr(obj, attr)) for obj, attr, _ in swaps]
    for obj, attr, new in swaps:
        setattr(obj, attr, new)
    try:
        yield
    finally:
        for obj, attr, old in saved:
            setattr(obj, attr, old)
