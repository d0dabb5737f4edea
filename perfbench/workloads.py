"""The benchmark workloads: one timed iteration each, plus its checks.

Every workload object has:

* ``reset()`` — untimed housekeeping before an iteration;
* ``run(tracer)`` — the timed iteration: calls into the library's public
  functions, each wrapped in a span when the tracer is on;
* ``check(out)`` — untimed output checks against the generator's manifest;
  returns a list of failure messages (empty = passed);
* ``write_amp()`` — bytes written to storage per byte of user data;
* ``counters(out)`` — exact per-layer counts for the traced run.
"""

from __future__ import annotations

import json
import os
import shutil
import time
from contextlib import contextmanager
from urllib.parse import unquote

import pyarrow.parquet as pq
from pyspark.sql import functions as F

from flnr_wins_spark.config import PipelineConfig
from flnr_wins_spark.functions.text import quality_rules, token_count
from flnr_wins_spark.operators.dedup import exact_dedup, minhash_lsh_pairs
from flnr_wins_spark.operators.graph import connected_components
from flnr_wins_spark.operators.sample import corpus_mixture
from flnr_wins_spark.plans import job as job_module
from flnr_wins_spark.plans.job import run_job
from flnr_wins_spark.sources.parquet import publish
from flnr_wins_spark.sources.ptable import (
    compact_ptable,
    merge_ptable,
    read_ptable,
    write_ptable,
)

import gen


def dir_bytes(path: str) -> int:
    """Bytes of every file under ``path`` (data, checksums and markers)."""
    total = 0
    for dirpath, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(dirpath, f)) for f in files)
    return total


def read_back(path: str):
    """A published parquet directory as pandas, read without Spark (pyarrow
    skips the ``_SUCCESS`` marker and ``.crc`` files). Binary columns are
    left out."""
    table = pq.read_table(path)
    keep = [f.name for f in table.schema if f.type != "binary"]
    return table.select(keep).to_pandas()


def _expect(failures: list, what: str, got, want) -> None:
    if got != want:
        failures.append(f"{what}: got {got!r}, expected {want!r}")


@contextmanager
def _patched(module, name: str, wrapper):
    orig = getattr(module, name)
    setattr(module, name, wrapper(orig))
    try:
        yield
    finally:
        setattr(module, name, orig)


class WinsStaging:
    """``run_job`` over the five feature tables plus the POD lookup."""

    def __init__(self, spark, manifest: dict, work: str):
        self.spark = spark
        self.m = manifest
        self.staging = os.path.join(work, "staging")
        self.config = PipelineConfig(
            tables=manifest["tables"],
            lookup={"water_pod_table": manifest["pod"]},
            staging_dir=self.staging,
        )

    def reset(self) -> None:
        pass  # publish overwrites, as the scheduled job does every day

    def run(self, tracer):
        if not tracer.enabled:
            ok, log = run_job(self.spark, self.config)
        else:
            with _patched(job_module, "run_staging", lambda f: _spanned(tracer, "plans.run_staging", f)), \
                    _patched(job_module, "publish", lambda f: _publish_spans(tracer, f)), \
                    _patched(job_module, "logged_run", lambda f: _self_timed(tracer, f)):
                ok, log = run_job(self.spark, self.config)
        if not ok:
            raise RuntimeError(f"run_job failed:\n{log[-2000:]}")
        return None

    def check(self, out) -> list[str]:
        """Read every published table back (with pyarrow, not Spark) and
        compare its counts with the generator's fold."""
        fails: list[str] = []
        for name, e in self.m["expected"].items():
            kept = read_back(os.path.join(self.staging, name))
            _expect(fails, f"{name} kept rows", len(kept), e["kept"])
            if name == "reserves_and_restrictions":
                rej = read_back(os.path.join(self.staging, f"{name}__rejects"))
                flags = rej["REJECT_FLAG"].value_counts(dropna=False).to_dict()
                _expect(fails, f"{name} rejects per flag", flags, e["rejects"])
                _expect(fails, f"{name} rows in = kept + rejected",
                        len(kept) + len(rej), e["rows"])
                _expect(fails, f"{name} enriched kept rows",
                        int(kept["DESCRIPTION"].notna().sum()), e["kept"])
                for prefix, code, key in (("RV", "EA83030000", "kept_rv"),
                                          ("RS", "EA83040000", "kept_rs")):
                    n = int((kept["TRRR_TAG"].str.startswith(prefix)
                             & (kept["FEATURE_CODE"] == code)).sum())
                    _expect(fails, f"{name} {prefix} feature codes", n, e[key])
            elif name == "flooded_area_lines":
                _expect(fails, f"{name} feature codes",
                        int((kept["FEATURE_CODE"] == "GB11350000").sum()), e["rows"])
            else:
                tag = "TNTH_TAG" if name == "non_trim_hydrography" else "TWRK_TAG"
                _expect(fails, f"{name} NULL tags", int(kept[tag].isna().sum()),
                        e["null_tags"])
                if name == "non_trim_hydrography":
                    _expect(fails, f"{name} enriched rows",
                            int(kept["STREAM_NAME"].notna().sum()),
                            e["rows"] - e["null_tags"])
                else:
                    _expect(fails, f"{name} NULL feature codes",
                            int(kept["FEATURE_CODE"].isna().sum()),
                            e["null_feature_codes"])
        return fails

    def write_amp(self) -> float:
        return dir_bytes(self.staging) / self.m["input_bytes"]

    def counters(self, out) -> dict:
        return {}


def _spanned(tracer, name, fn):
    def wrapper(*a, **k):
        with tracer.span(name):
            return fn(*a, **k)
    return wrapper


def _publish_spans(tracer, fn):
    def wrapper(df, path, *a, **k):
        which = "rejects" if path.endswith("__rejects") else "kept"
        with tracer.span(f"sources.publish.{which}"):
            return fn(df, path, *a, **k)
    return wrapper


def _self_timed(tracer, fn):
    """``logged_run`` wrapper recording its own time outside the job body."""
    def wrapper(job, *a, **k):
        inner = [0.0]

        def timed_job(log):
            t = time.perf_counter()
            try:
                job(log)
            finally:
                inner[0] += time.perf_counter() - t

        t0 = time.perf_counter()
        try:
            return fn(timed_job, *a, **k)
        finally:
            tracer.add("runlog.logged_run.self_s", time.perf_counter() - t0 - inner[0])
    return wrapper


class LlmCuration:
    """quality rules -> exact dedup -> MinHash-LSH -> components -> mixture
    -> training-manifest write -> upsert of the new release into the corpus
    lakehouse table (write_ptable of the previous release, merge_ptable,
    compact_ptable, with a read_ptable digest after each commit)."""

    def __init__(self, spark, manifest: dict, work: str):
        self.spark = spark
        self.m = manifest
        self.out = os.path.join(work, "training_manifest")
        self.tables = os.path.join(work, "ptables")
        self.n = 0
        self.table = None
        table = pq.read_table(manifest["corpus"], columns=["doc_id", "text"])
        self.texts = dict(zip(table["doc_id"].to_pylist(), table["text"].to_pylist()))

    def reset(self) -> None:
        self.spark.catalog.clearCache()
        shutil.rmtree(self.tables, ignore_errors=True)
        self.n += 1
        self.table = os.path.join(self.tables, f"t{self.n}")

    def run(self, tracer):
        from pyspark.sql import Observation

        spark = self.spark
        docs = spark.read.parquet(self.m["corpus"])
        with tracer.span("functions.quality_rules"):
            rules = quality_rules(docs, keep=("lang", "text"))
        seen = Observation("rules")
        rules = rules.observe(
            seen,
            F.count(F.lit(1)).alias("docs"),
            F.count_if(F.col("passes")).alias("passed"),
        )
        passed = rules.filter(F.col("passes")).select("doc_id", "lang", "text")
        with tracer.span("operators.exact_dedup"):
            deduped = exact_dedup(passed, "text", "doc_id")
        # the curated corpus feeds three consumers: materialize it once
        kept = deduped.drop("n_copies").localCheckpoint()
        with tracer.span("operators.minhash_lsh_pairs"):
            pairs = minhash_lsh_pairs(
                kept, "text", "doc_id", threshold=self.m["threshold"], unpersist=True
            )
        with tracer.span("operators.connected_components"):
            clusters = connected_components(pairs)
        losers = clusters.filter(F.col("id") != F.col("cluster_id")).select(
            F.col("id").alias("doc_id")
        )
        survivors = kept.join(losers, "doc_id", "left_anti")
        with tracer.span("operators.corpus_mixture"):
            mix = corpus_mixture(survivors.select("doc_id", "lang"), "lang",
                                 n=self.m["budget"])
        manifest = (
            mix.select(F.col("id").alias("doc_id"), F.col("mix_rank").cast("int"))
            .join(survivors, "doc_id")
            .select(
                "doc_id", "lang", "mix_rank",
                token_count(F.col("text")).alias("n_tokens"),
                F.length("text").cast("bigint").alias("n_chars"),
            )
        )
        with tracer.span("sources.publish.manifest"):
            publish(manifest, self.out)
        digest = self.upsert_release(tracer)
        return {"seen": seen, "kept": kept, "pairs": pairs, "clusters": clusters,
                "digest": digest}

    def upsert_release(self, tracer) -> dict:
        """Bootstrap the lakehouse table with the previous release, merge the
        published release over it (deleting documents it dropped), rewrite
        every partition sorted by ``doc_id``; returns the per-language
        digest of the table read back."""
        spark = self.spark
        release = spark.read.parquet(self.out)
        previous = spark.read.parquet(self.m["previous_release"])
        with tracer.span("sources.write_ptable"):
            write_ptable(previous, self.table, "lang")
        dropped = previous.join(release.select("doc_id"), "doc_id", "left_anti")
        with tracer.span("sources.merge_ptable"):
            merge_ptable(spark, self.table, release, ["doc_id"],
                         delete_keys=dropped.select("doc_id", "lang"))
        with tracer.span("sources.compact_ptable"):  # OPTIMIZE, clustered by id
            compact_ptable(spark, self.table, min_files=1, sort_cols=["doc_id"])
        with tracer.span("sources.read_ptable"):
            rows = (
                read_ptable(spark, self.table)
                .groupBy("lang")
                .agg(*[F.count(F.lit(1))]
                     + [F.sum(c) for c in ("doc_id", "mix_rank", "n_tokens", "n_chars")])
                .collect()
            )
        return {r[0]: [int(x) for x in r[1:]] for r in rows}

    def check(self, out) -> list[str]:
        fails: list[str] = []
        exp = self.m["expected"]
        seen = out["seen"].get
        _expect(fails, "documents seen by the rules", seen["docs"], self.m["planted"]["docs"])
        _expect(fails, "documents passing the rules", seen["passed"], exp["passed"])
        _expect(fails, "documents kept by exact dedup", out["kept"].count(),
                exp["kept_after_exact"])
        pairs = [(r.id_a, r.id_b) for r in out["pairs"].collect()]
        thr = self.m["threshold"]
        low = [p for p in pairs if gen.jaccard(self.texts[p[0]], self.texts[p[1]]) < thr]
        _expect(fails, "pairs below the Jaccard threshold", low[:5], [])
        _expect(fails, "near-duplicate pairs", len(set(pairs)), exp["near_edges"])
        groups: dict[int, list[int]] = {}
        for r in out["clusters"].collect():
            groups.setdefault(r.cluster_id, []).append(r.id)
        comps = sorted(sorted(g) for g in groups.values())
        bad_label = [c for c, g in groups.items() if c != min(g)]
        _expect(fails, "cluster ids that are not the member minimum", bad_label[:5], [])
        _expect(fails, "clusters", comps, exp["clusters"])
        mix = read_back(self.out).groupby("lang").agg(
            n=("doc_id", "size"), top=("mix_rank", "max"), docs=("doc_id", "nunique"))
        got = {k: int(v) for k, v in mix["n"].items()}
        _expect(fails, "mixture quotas", got, exp["quotas"])
        _expect(fails, "mixture budget", sum(got.values()), self.m["budget"])
        _expect(fails, "mixture ranks",
                {k: (int(r.top), int(r.docs)) for k, r in mix.iterrows()},
                {k: (v, v) for k, v in exp["quotas"].items()})
        release = read_back(self.out).groupby("lang").agg(
            n=("doc_id", "size"), **{c: (c, "sum") for c in
                                     ("doc_id", "mix_rank", "n_tokens", "n_chars")})
        want = {k: [int(x) for x in r] for k, r in release.iterrows()}
        _expect(fails, "lakehouse table digest", out["digest"], want)
        return fails

    def write_amp(self) -> float:
        """Published manifest bytes plus the bytes of every lakehouse commit
        after the bootstrap, per corpus byte."""
        upserted = ptable_commit_bytes(self.table)[1]
        return (dir_bytes(self.out) + upserted) / self.m["corpus_bytes"]

    def counters(self, out) -> dict:
        seen = out["seen"].get
        kept = out["kept"].count()
        pairs = [(r.id_a, r.id_b) for r in out["pairs"].collect()]
        return {
            "functions.quality_rules.pass_ratio": seen["passed"] / seen["docs"],
            "operators.exact_dedup.keep_ratio": kept / seen["passed"],
            "operators.minhash_lsh_pairs.pairs_out": len(pairs),
            "operators.minhash_lsh_pairs.pairs_per_doc": len(pairs) / kept,
            "operators.connected_components.rounds": label_rounds(pairs),
            **ptable_counters(self.table),
        }


def label_rounds(pairs: list[tuple[int, int]]) -> int:
    """Rounds min-label propagation needs on this edge list, counting the
    last round that changes nothing (the convergence check)."""
    nbrs: dict[int, list[int]] = {}
    for a, b in pairs:
        nbrs.setdefault(a, []).append(b)
        nbrs.setdefault(b, []).append(a)
    label = {v: v for v in nbrs}
    rounds = 0
    while True:
        rounds += 1
        new = {v: min([label[v]] + [label[u] for u in nbrs[v]]) for v in nbrs}
        if new == label:
            return rounds
        label = new


def ptable_manifests(path: str) -> list[str]:
    d = os.path.join(path, "manifests")
    return sorted(
        (f for f in os.listdir(d) if f.startswith("m") and f.endswith(".json")),
        key=lambda f: int(f[1:-5]),
    )


def ptable_commit_bytes(path: str) -> tuple[int, int]:
    """(bytes written by a ptable's bootstrap commit, bytes written by all
    later ones: data, checksums and manifests)."""
    first = os.path.join(path, "stage", "m1")
    boot = dir_bytes(first) + os.path.getsize(os.path.join(path, "manifests", "m1.json"))
    return boot, dir_bytes(path) - boot


def ptable_counters(path: str) -> dict:
    with open(os.path.join(path, "manifests", ptable_manifests(path)[-1])) as fh:
        final = json.load(fh)
    live_files = live_bytes = 0
    for rel in final["partitions"].values():
        d = unquote(os.path.join(path, *rel.split("/")))
        data = [f for f in os.listdir(d) if f.endswith(".parquet")]
        live_files += len(data)
        live_bytes += sum(os.path.getsize(os.path.join(d, f)) for f in data)
    return {
        "ptable.commits": len(ptable_manifests(path)),
        "ptable.live_files": live_files,
        "ptable.rewritten_bytes_ratio": ptable_commit_bytes(path)[1] / live_bytes,
    }


WORKLOADS = {
    "wins_staging": WinsStaging,
    "llm_curation": LlmCuration,
}
