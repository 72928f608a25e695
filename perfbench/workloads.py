"""The three benchmark workloads.

Each workload generates its inputs from the seed with the repository's own
generators, writes the program's input to parquet and keeps the truth
labels in memory, out of the program's input. One operation reads the
input back, runs the package's public entry point and writes the outputs
to parquet; `check` then holds those outputs against the truth.

- pages_dedup: `plans.pipeline.run_linkage` with the default LinkageConfig
  over a generated crawl (clusters of 1-5 near-duplicate pages, Zipfian
  hosts). One operation links the whole corpus.
- records_bipartite: `plans.pipeline.link_two_sources` over two generated
  person-record files, key-blocked on gender, Jaro-Winkler on names and
  exact agreement on age and occupation. One operation links both files.
- crawl_increment: micro-batches of new pages through
  `streaming.er.apply_increment` against a versioned parquet state. One
  operation is one micro-batch; a pass sends every batch, in order, into
  an empty state.
"""

from __future__ import annotations

import hashlib
import os
import shutil
from itertools import combinations

import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from bayesianrecordlinkage_jl_spark.functions import comparators as C
from bayesianrecordlinkage_jl_spark.operators import assignment, blocking, em, incremental
from bayesianrecordlinkage_jl_spark.operators import connected_components as cc
from bayesianrecordlinkage_jl_spark.operators import comparison_summary as cs
from bayesianrecordlinkage_jl_spark.plans import pipeline
from bayesianrecordlinkage_jl_spark.sources.pages import generate_pages
from bayesianrecordlinkage_jl_spark.sources.records import generate_records
from bayesianrecordlinkage_jl_spark.streaming import er

from tracing import force


def digest(seed: int, text: str) -> str:
    return hashlib.sha256(f"{seed}:{text}".encode()).hexdigest()


def phash_py(text: str) -> int:
    """The package's node id (functions.text.phash) computed in Python."""
    return int(hashlib.md5(text.encode()).hexdigest()[:15], 16)


def write_parquet(df: pd.DataFrame, path: str) -> None:
    """One parquet file per input directory, written by the benchmark
    itself (no Spark job); timestamps at microsecond precision, as Spark
    reads them."""
    os.makedirs(path, exist_ok=True)
    pq.write_table(pa.Table.from_pandas(df, preserve_index=False),
                   os.path.join(path, "part-0.parquet"),
                   coerce_timestamps="us", allow_truncated_timestamps=True)


def dir_bytes(path: str) -> int:
    total = 0
    for base, _dirs, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(base, f)) for f in files)
    return total


def cluster_f1(pred: pd.Series, truth: pd.Series) -> tuple[float | None, list[str]]:
    """Pairwise F1 of a clustering (item -> label) against the planted one,
    from the label contingency table: a pair is predicted when both items
    share a predicted label, true when they share a truth label."""
    if not pred.index.is_unique:
        return None, ["an item is assigned to more than one cluster"]
    if set(pred.index) != set(truth.index):
        return None, ["the clusters do not cover the input items exactly"]
    both = pd.DataFrame({"p": pred, "t": truth.reindex(pred.index)})

    def pairs(sizes: pd.Series) -> int:
        return int((sizes * (sizes - 1) // 2).sum())

    tp = pairs(both.groupby(["p", "t"]).size())
    n_pred = pairs(both.groupby("p").size())
    n_true = pairs(both.groupby("t").size())
    return f1_score(tp, n_pred, n_true), []


def f1_score(tp: int, n_pred: int, n_true: int) -> float:
    precision = tp / n_pred if n_pred else 1.0
    recall = tp / n_true if n_true else 1.0
    return 2 * precision * recall / (precision + recall) if precision + recall else 0.0


class Workload:
    name = ""
    f1_floor = 1.0
    min_ops = 1  # operations a run measures even when --seconds is shorter

    def __init__(self, spark, work: str, seed: int, scale: float, stats: dict):
        self.spark = spark
        self.work = work
        self.seed = seed
        self.scale = scale
        self.stats = stats  # name -> list of per-operation values
        self.meta: dict = {}

    def path(self, *parts: str) -> str:
        return os.path.join(self.work, self.name, *parts)

    def note(self, name: str, value: float) -> None:
        self.stats.setdefault(name, []).append(value)

    def generate(self) -> None:
        raise NotImplementedError

    def warm_up(self) -> None:
        raise NotImplementedError

    def run_op(self, i: int) -> dict:
        raise NotImplementedError

    def check_op(self, i: int, out: dict) -> tuple[float | None, list[str]]:
        """-> (pairwise F1 when this operation completes a result, failures)."""
        raise NotImplementedError

    def records(self, i: int) -> int:
        raise NotImplementedError

    def install_hooks(self, hooks) -> None:
        raise NotImplementedError

    # hooks shared by the two batch workloads ---------------------------------
    def _install_batch_hooks(self, hooks) -> None:
        tracer = hooks.tracer
        note = self.note

        def summary(orig):
            def build(pairs, field_exprs, nlevels):
                with tracer.span("comparison_summary"):
                    s = orig(pairs, field_exprs, nlevels)
                    d = s.dvecs_pd()
                note("comparison_summary.distinct_vectors", len(d))
                note("comparison_summary.dedup_ratio", int(d["n_pairs"].sum()) / max(len(d), 1))
                return s

            return build

        hooks.install(cs.ComparisonSummary, "build", summary)
        hooks.install(em, "estimate_em", hooks.forcing(
            "em", after=lambda p, *a, **k: note("em.iterations", p.iterations)))

        solve = assignment.one_to_one

        def assignment_stats(links, pairs, method="hungarian", **_kw):
            if "assignment.blocks" in self.stats:
                return  # deterministic for the input: measured once per run
            row = pairs.groupBy("block_id").count().agg(
                F.count(F.lit(1)).alias("blocks"), F.max("count").alias("mx")).first()
            by = dict(solve(pairs, method=method, with_resolved_by=True)
                      .groupBy("resolved_by").agg(F.countDistinct("block_id").alias("n"))
                      .select("resolved_by", "n").collect())
            blocks = row["blocks"]
            note("assignment.blocks", blocks)
            note("assignment.solver_blocks", blocks - by.get("mutual", 0))
            note("assignment.fastpath_ratio", by.get("mutual", 0) / blocks if blocks else 0.0)
            note("connected_components.max_component_pairs", row["mx"] or 0)

        hooks.install(assignment, "one_to_one",
                      hooks.forcing("assignment", after=assignment_stats))

    def _pair_recall_stats(self, cand, truth_df, keys: list[str]) -> None:
        """Blocking quality against the planted pairs, once per run."""
        if "blocking.pair_precision" in self.stats:
            return
        n_cand = cand.count()
        n_true = truth_df.count()
        hit = cand.select(*keys).join(truth_df, keys).count()
        self.note("blocking.pair_precision", hit / n_cand if n_cand else 0.0)
        self.note("blocking.pair_recall", hit / n_true if n_true else 1.0)


class PagesDedup(Workload):
    name = "pages_dedup"
    f1_floor = 0.95
    CLUSTERS = 250

    def generate(self) -> None:
        pages = generate_pages(
            self.spark, max(8, int(self.CLUSTERS * self.scale)), seed=self.seed).toPandas()
        # generated urls name the true cluster: replace the path with a
        # seeded digest so the program sees no label (the host stays)
        pages["url"] = [f"https://{h}/p/{digest(self.seed, u)[:20]}.html"
                        for u, h in zip(pages["url"], pages["host"])]
        pages["html"] = pages["html"].map(bytes)
        cols = ["url", "warc_ts", "html", "lang"]
        write_parquet(pages[cols], self.path("input"))
        write_parquet(pages.loc[pages["cluster_id"] % 8 == 0, cols], self.path("slice"))
        pages["node"] = pages["url"].map(phash_py)
        self.truth = pages[["url", "node", "cluster_id", "text"]]
        self.meta["input_records"] = len(pages)

    def _link(self, src: str, out: str):
        res = pipeline.run_linkage(
            self.spark, self.spark.read.parquet(src), pipeline.LinkageConfig())
        res.links.write.mode("overwrite").parquet(os.path.join(out, "links"))
        res.clusters.write.mode("overwrite").parquet(os.path.join(out, "clusters"))
        return res

    def warm_up(self) -> None:
        self._link(self.path("slice"), self.path("warm"))

    def run_op(self, i: int) -> dict:
        out = self.path(f"op{i % 2}")
        return {"dir": out, "result": self._link(self.path("input"), out)}

    def check_op(self, i: int, out: dict) -> tuple[float | None, list[str]]:
        clusters = pd.read_parquet(os.path.join(out["dir"], "clusters"),
                                   columns=["url", "cluster_id"])
        truth = self.truth.set_index("url")
        f1, failures = cluster_f1(clusters.set_index("url")["cluster_id"], truth["cluster_id"])
        links = self.spark.read.parquet(os.path.join(out["dir"], "links"))
        if not assignment.assert_one_to_one(links):
            failures.append("links are not one-to-one")
        docs = out["result"].docs.select("url", "text").toPandas().set_index("url")
        got = docs["text"].reindex(truth.index)
        same = [isinstance(g, str) and g.encode() == t.encode()
                for g, t in zip(got, truth["text"])]
        if len(docs) != len(truth) or not all(same):
            failures.append(f"extract_text differs from the page text on "
                            f"{same.count(False)} of {len(truth)} pages")
        if "candidate_pairs" not in self.meta:
            self.meta["candidate_pairs"] = out["result"].pairs.count()
        return f1, failures

    def records(self, i: int) -> int:
        return len(self.truth)

    def install_hooks(self, hooks) -> None:
        true_pairs = [
            (min(a, b), max(a, b))
            for _, nodes in self.truth.groupby("cluster_id")["node"]
            for a, b in combinations(nodes.tolist(), 2)
        ]
        truth_df = self.spark.createDataFrame(true_pairs, "a long, b long")

        def scored(vectors, *_a, **_k):
            self.note("comparators.pairs", vectors.count())
            cand = vectors.select(F.least("id_a", "id_b").alias("a"),
                                  F.greatest("id_a", "id_b").alias("b"))
            self._pair_recall_stats(cand, truth_df, ["a", "b"])

        hooks.install(blocking, "lsh_blocking", hooks.forcing("blocking.lsh"))
        hooks.install(blocking, "salt_hot_keys", hooks.forcing("blocking.key"))
        hooks.install(blocking, "key_blocking", hooks.forcing("blocking.key"))
        hooks.install(pipeline, "_score_vectors", hooks.forcing("comparators", after=scored))
        self._install_batch_hooks(hooks)

        def capped(comps, *_a, **_k):
            if "connected_components.capped_nodes" not in self.stats:
                self.note("connected_components.capped_nodes",
                          comps.where(F.col("capped")).count())

        hooks.install(cc, "size_capped_components",
                      hooks.forcing("connected_components", after=capped))
        hooks.install(cc, "connected_components", hooks.forcing("connected_components.round"))


# record comparison: the paper's two-file setting (vignette fields). The
# kinds name fixed m/u priors, used only when EM is off: the 4-level
# string-similarity table for the Jaro-Winkler levels.
RECORD_LEVELS = {"g_gname": 4, "g_fname": 4, "g_age": 2, "g_occup": 2}
RECORD_KINDS = [("g_gname", "lev"), ("g_fname", "lev"), ("g_age", "exact"),
                ("g_occup", "exact")]


def record_fields() -> dict:
    def known(c: str):
        return F.nullif(F.col(c), F.lit("NA"))

    return {
        "g_gname": C.jaro_winkler_ord(F.col("gname_a"), F.col("gname_b")),
        "g_fname": C.jaro_winkler_ord(F.col("fname_a"), F.col("fname_b")),
        "g_age": C.bool_ord(known("age_a"), known("age_b")),
        "g_occup": C.bool_ord(known("occup_a"), known("occup_b")),
    }


class RecordsBipartite(Workload):
    name = "records_bipartite"
    f1_floor = 0.95
    RECORDS = 500  # per file; half of them have a true match in the other

    def generate(self) -> None:
        n = max(16, int(self.RECORDS * self.scale))
        a, b = (df.toPandas() for df in generate_records(
            self.spark, n=n, n_match=n // 2, seed=self.seed))
        # rec_id 'a{i}'/'b{i}' names the truth: replace it with a digest
        for side, df in (("a", a), ("b", b)):
            df["rec_id"] = [digest(self.seed, f"{side}:{i}")[:16] for i in df["i"]]
            cols = [c for c in df.columns if c != "i"]
            write_parquet(df[cols], self.path("input", side))
            write_parquet(df.loc[df["i"] % 8 == 0, cols], self.path("slice", side))
        self.truth = a.loc[a["i"] < n // 2, ["i", "rec_id"]].merge(
            b[["i", "rec_id"]], on="i", suffixes=("_a", "_b")
        ).rename(columns={"rec_id_a": "rid_a", "rec_id_b": "rid_b"})[["rid_a", "rid_b"]]
        per_gender = a["gender"].value_counts() * b["gender"].value_counts()
        self.meta["input_records"] = 2 * n
        self.meta["candidate_pairs"] = int(per_gender.fillna(0).sum())

    def _link(self, src: str, out: str) -> None:
        read = self.spark.read.parquet
        links, _params = pipeline.link_two_sources(
            self.spark, read(os.path.join(src, "a")), read(os.path.join(src, "b")),
            record_fields(), RECORD_KINDS, RECORD_LEVELS,
            id_col="rec_id", block_cols=["gender"], penalty=0.0,
        )
        links.write.mode("overwrite").parquet(os.path.join(out, "links"))

    def warm_up(self) -> None:
        self._link(self.path("slice"), self.path("warm"))

    def run_op(self, i: int) -> dict:
        out = self.path(f"op{i % 2}")
        self._link(self.path("input"), out)
        return {"dir": out}

    def check_op(self, i: int, out: dict) -> tuple[float | None, list[str]]:
        path = os.path.join(out["dir"], "links")
        failures = []
        links = self.spark.read.parquet(path).select(
            F.col("rid_a").alias("id_a"), F.col("rid_b").alias("id_b"))
        if not assignment.assert_one_to_one(links):
            failures.append("links are not one-to-one")
        got = pd.read_parquet(path, columns=["rid_a", "rid_b"])
        tp = len(got.merge(self.truth, on=["rid_a", "rid_b"]))
        return f1_score(tp, len(got), len(self.truth)), failures

    def records(self, i: int) -> int:
        return self.meta["input_records"]

    def install_hooks(self, hooks) -> None:
        tracer = hooks.tracer
        truth_df = self.spark.createDataFrame(self.truth)

        def vectors(orig):
            # the key-blocked join is inlined in link_two_sources: its
            # output is the pairs table handed to comparison_vectors
            def wrapper(pairs, field_exprs):
                with tracer.span("blocking.key"):
                    pairs = force(pairs)
                with tracer.aside():
                    self.note("comparators.pairs", pairs.count())
                    self._pair_recall_stats(pairs, truth_df, ["rid_a", "rid_b"])
                with tracer.span("comparators"):
                    return force(orig(pairs, field_exprs))

            return wrapper

        hooks.install(cs, "comparison_vectors", vectors)
        self._install_batch_hooks(hooks)
        hooks.install(pipeline, "connected_components",
                      hooks.forcing("connected_components.round"))


class CrawlIncrement(Workload):
    name = "crawl_increment"
    f1_floor = 0.5
    min_ops = 4
    CLUSTERS = 600
    BATCHES = 6
    WARM_BATCHES = 2  # the stream's first batches, applied during set-up

    def generate(self) -> None:
        docs = generate_pages(
            self.spark, max(8, int(self.CLUSTERS * self.scale)), seed=self.seed
        ).select("url", "text", "cluster_id").toPandas()
        docs["doc_id"] = docs["url"].map(phash_py)
        # batch = hash of the url: arrival order is independent of cluster
        docs["batch"] = [phash_py(f"batch:{u}") % self.BATCHES for u in docs["url"]]
        for k in range(self.BATCHES):
            write_parquet(docs.loc[docs["batch"] == k, ["doc_id", "text"]], self._batch_dir(k))
        self.truth = docs[["doc_id", "cluster_id", "batch"]]
        self.batch_bytes = [dir_bytes(self._batch_dir(k)) for k in range(self.BATCHES)]
        self.meta["input_records"] = len(docs)

    def _batch_dir(self, k: int) -> str:
        return self.path("input", f"batch={k}")

    def _apply(self, state: str, k: int) -> None:
        batch = self.spark.read.parquet(self._batch_dir(k))
        er.apply_increment(self.spark, state, batch, k + 1)

    def _position(self, i: int) -> tuple[int, int]:
        """Operation i -> (pass, batch): the measured loop continues the
        stream the warm-up started; after the last batch a new pass starts
        from an empty state."""
        return divmod(i + self.WARM_BATCHES, self.BATCHES)

    def warm_up(self) -> None:
        for k in range(self.WARM_BATCHES):
            self._apply(self.path("state0"), k)

    def run_op(self, i: int) -> dict:
        p, k = self._position(i)
        state = self.path(f"state{p}")
        if k == 0:
            shutil.rmtree(self.path(f"state{p - 1}"), ignore_errors=True)
        self._apply(state, k)
        return {"state": state, "batch": k}

    def check_op(self, i: int, out: dict) -> tuple[float | None, list[str]]:
        k = out["batch"]
        version = os.path.join(out["state"], f"v{k + 1}")
        mem = pd.read_parquet(os.path.join(version, "membership"),
                              columns=["doc_id", "cluster_id", "matched", "batch_id"])
        arrived = self.truth[self.truth["batch"] <= k].set_index("doc_id")["cluster_id"]
        f1, failures = cluster_f1(mem.set_index("doc_id")["cluster_id"], arrived)
        if k < self.BATCHES - 1:
            # a batch is never linked within itself, so F1 on a prefix of
            # the stream mostly measures how far the stream has got: the
            # gate and the metric take it once the last batch is in
            f1 = None
        written = dir_bytes(version)
        self.note("streaming.bytes_written", written)
        self.note("streaming.write_amplification", written / self.batch_bytes[k])
        self.note("incremental.matched_ratio",
                  float(mem.loc[mem["batch_id"] == k + 1, "matched"].mean()))
        return f1, failures

    def records(self, i: int) -> int:
        return int((self.truth["batch"] == self._position(i)[1]).sum())

    def install_hooks(self, hooks) -> None:
        tracer = hooks.tracer

        def load(orig):
            def wrapper(*args, **kwargs):
                with tracer.span("streaming.state_read"):
                    reps, members = orig(*args, **kwargs)
                    return force(reps), force(members)

            return wrapper

        hooks.install(er, "apply_increment", hooks.forcing("streaming.commit"))
        hooks.install(er, "load_state", load)
        hooks.install(incremental, "link_increment", hooks.forcing("incremental.link"))


WORKLOADS = {w.name: w for w in (PagesDedup, RecordsBipartite, CrawlIncrement)}
