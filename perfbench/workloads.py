"""The benchmark workloads, each driven only through the public API.

A workload has one set-up pass (`setup`, repeated by the runner to time it),
a timed loop (`measure`), one traced pass with a job group per layer
(`traced`), the untraced twin of that pass (`reference`) and an output check
(`check`) that runs once per seed outside the timed section.
"""

from __future__ import annotations

import hashlib
import os
import shutil
import statistics
import time
from dataclasses import dataclass, field

import numpy as np
import pandas as pd
from pyspark.sql import functions as F, types as T

import checks
import gen
from eventlog import NullTracer, Tracer

from memory_optimized_splink_spark.comparison_library import (
    date_of_birth_comparison, exact_match, jaro_winkler_at_thresholds,
)
from memory_optimized_splink_spark.entry_queries import entry_settings
from memory_optimized_splink_spark.functions.similarity import (
    jaro_winkler_udf,
)
from memory_optimized_splink_spark.linker import SparkLinker
from memory_optimized_splink_spark.model import (
    Comparison, ComparisonLevel, Settings, block_on,
)
from memory_optimized_splink_spark.operators.nodes import derive_repo_file_ids

THRESHOLD = 0.9  # match probability at which pairs join a cluster
MIN_PASSES = 2

DONOR_ROWS = 3000
INCREMENTAL_ROWS = 1500
U_MAX_PAIRS = 3e4
EM_RULES = (block_on("dob"), block_on("first_name", "surname"))

REPO_DOCS = 250
REPO_VARIANTS = 40  # as in the BENCH_r01-r06 input: sf0.1 documents x 40
# (candidate pairs, clusters) of the BENCH_r06 record, on all documents
BENCH_R06 = (2_614_576, 104_979)
RESUMES_PER_PASS = 2  # a resume costs a third of a pass; time it twice a pass

REQUEST_RECORDS = 5
N_REQUESTS = 40
N_PAIRS = 100
SWEEPS_PER_CYCLE = 4  # every sweep scores the same N_PAIRS pairs
MIN_CYCLES = 4
TRACE_CYCLES = 1

PERSON_SCHEMA = T.StructType([
    T.StructField("unique_id", T.StringType()),
    T.StructField("first_name", T.StringType()),
    T.StructField("surname", T.StringType()),
    T.StructField("dob", T.DateType()),
    T.StructField("email", T.StringType()),
    T.StructField("city", T.StringType()),
    T.StructField("cluster", T.LongType()),
])


def _name_comparison(col: str) -> Comparison:
    L = ComparisonLevel
    return Comparison(col, col, (
        L("null"), L("exact", tf_adjustment=True),
        L("jaro_winkler", threshold=0.92), L("jaro_winkler", threshold=0.88),
        L("jaro_winkler", threshold=0.7), L("else")))


def person_settings() -> Settings:
    """Name ladders with TF on first_name and surname, a dob ladder, email
    Jaro-Winkler and city exact with TF. The surname rule puts the Zipf head
    of surnames into a few hot blocks."""
    return Settings(
        comparisons=(
            _name_comparison("first_name"),
            _name_comparison("surname"),
            date_of_birth_comparison("dob"),
            jaro_winkler_at_thresholds("email", (0.88,)),
            exact_match("city", tf_adjustment=True),
        ),
        blocking_rules=(block_on("surname"), block_on("first_name", "dob"),
                        block_on("email")),
        probability_two_random_records_match=2e-4,
    )


def _train(lk: SparkLinker, seed: int, tr, facts: dict) -> None:
    """u by random sampling, then one EM session per rule of EM_RULES."""
    with tr.layer("train.u"):
        lk.estimate_u(max_pairs=U_MAX_PAIRS, seed=seed)
    with tr.layer("train.em"):
        facts["train.em.iterations"] = sum(
            len(lk.estimate_m_with_em(r)) for r in EM_RULES)


def force(df) -> None:
    """Run a DataFrame to completion without collecting it."""
    df.write.format("noop").mode("overwrite").save()


def _gamma_cols(settings: Settings) -> list[str]:
    return [c.gamma_column for c in settings.comparisons]


def _histogram(pred, settings: Settings) -> checks.Histogram:
    cols = _gamma_cols(settings)
    return {tuple(int(r[c]) for c in cols): int(r["count"])
            for r in pred.groupBy(*cols).count().collect()}


def _clusters_problems(pred, clusters, uid: str):
    """(membership, problems) of the clusters against the thresholded
    edges of the predictions they were built from."""
    edges = [(r[0], r[1]) for r in pred.where(
        F.col("match_probability") >= THRESHOLD)
        .select("unique_id_l", "unique_id_r").collect()]
    membership = {r[0]: r[1] for r in clusters.select(uid, "cluster_id")
                  .collect()}
    return membership, checks.check_clusters(membership, edges)


@dataclass
class Measurement:
    attempted: int = 0
    failed: int = 0
    walls: list[float] = field(default_factory=list)
    extra: dict[str, list[float]] = field(default_factory=dict)
    errors: dict[str, int] = field(default_factory=dict)

    def fail(self, exc: Exception) -> None:
        self.failed += 1
        name = type(exc).__name__
        self.errors[name] = self.errors.get(name, 0) + 1


class Workload:
    name = ""
    setup_repeats = 3  # set-ups per untimed run; setup_s is their median

    def __init__(self, spark, seed: int, work_dir: str):
        self.spark = spark
        self.seed = seed
        self.df = None
        self.facts: dict[str, float] = {}

    def _load(self, pdf: pd.DataFrame, schema=None):
        """Replace the input table with `pdf`, materialized in memory, and
        start the Python workers the comparison kernels run in."""
        if self.df is not None:
            self.df.unpersist()
        self.df = self.spark.createDataFrame(pdf, schema).cache()
        self.df.count()
        self.spark.range(2000).select(F.sum(jaro_winkler_udf(
            F.lit("warm"), F.lit("worm")))).collect()

    def measure(self, seconds: float) -> Measurement:
        """An untimed warm-up pass, then passes until `seconds` have passed
        and at least MIN_PASSES were made."""
        m = Measurement()
        t0 = time.perf_counter()
        self.warm_up()
        m.extra["cold_pass_s"] = [time.perf_counter() - t0]
        end = time.perf_counter() + seconds
        while len(m.walls) < MIN_PASSES or time.perf_counter() < end:
            m.attempted += 1
            t0 = time.perf_counter()
            try:
                extra = self.run_pass()
            except Exception as exc:  # noqa: BLE001 - counted, run goes on
                m.fail(exc)
                if m.failed >= MIN_PASSES:
                    break
                continue
            # a pass may time its end-to-end part itself and go on after it
            m.walls.append(extra.pop("e2e_s", time.perf_counter() - t0))
            for k, samples in extra.items():
                m.extra.setdefault(k, []).extend(samples)
        return m

    def run_pass(self) -> dict:
        """One timed pass: its own "e2e_s" if it times it, and lists of
        samples of any other timings it takes."""
        raise NotImplementedError

    def warm_up(self) -> None:
        """Compile and JIT the code paths the timed passes run."""
        self.run_pass()

    def reference(self) -> float:
        """Wall seconds of the untraced twin of `traced`."""
        t0 = time.perf_counter()
        self.run_pass()
        return time.perf_counter() - t0


class DonorDedupe(Workload):
    """Train, predict and cluster donor-shaped person records through the
    default (lazy, no checkpoint) SparkLinker."""

    name = "donor_dedupe"

    def setup(self) -> None:
        self.pdf = gen.person_records(self.seed, DONOR_ROWS)
        self._load(self.pdf, PERSON_SCHEMA)

    def run_pass(self) -> dict:
        lk = SparkLinker(self.spark, self.df, person_settings())
        _train(lk, self.seed, NullTracer(), self.facts)
        force(lk.predict())
        force(lk.cluster(THRESHOLD))
        self.linker = lk
        return {}

    def traced(self, tr: Tracer) -> Measurement:
        lk = SparkLinker(self.spark, self.df, person_settings())
        with tr.layer("nodes"):
            force(lk.nodes())
        with tr.layer("blocking"):
            force(lk.blocked_pairs())
        _train(lk, self.seed, tr, self.facts)
        with tr.layer("vectors"):
            force(lk.comparison_vectors())
        with tr.layer("score"):
            force(lk.predict())
        with tr.layer("cluster"):
            force(lk.cluster(THRESHOLD))
        self.linker = lk
        return Measurement(attempted=1)

    def check(self) -> list[str]:
        lk = self.linker
        pred = lk.predict().cache()
        try:
            hist = _histogram(pred, lk.settings)
            membership, problems = _clusters_problems(
                pred, lk.cluster(THRESHOLD), "unique_id")
        finally:
            pred.unpersist()
        expected = checks.oracle_histogram(lk.settings, self.pdf)
        problems = checks.compare_histograms("predict", expected, hist) \
            + problems
        truth = dict(zip(self.pdf["unique_id"], self.pdf["cluster"]))
        self.facts["pairs"] = sum(expected.values())
        self.facts["clusters"] = len(set(membership.values()))
        self.facts["pairwise_f1"] = checks.pairwise_f1(membership, truth)
        return problems


def repo_file_rows(docs: pd.DataFrame, variants: int) -> pd.DataFrame:
    """Each document exploded into `variants` perturbed repo-file rows
    (repo, path, commit, lang, content): path edits so the Jaro-Winkler and
    Levenshtein levels fire, and half the variants sharing the document's
    content, so content-equal cliques are the true duplicates."""
    d = docs.loc[docs.index.repeat(variants)].reset_index(drop=True)
    v = np.tile(np.arange(variants), len(docs))
    doc = d["doc_id"].to_numpy()
    stem = "doc" + pd.Series(doc % 997).astype(str)
    vs = pd.Series(v).astype(str)
    perturbed = np.select(
        [v % 4 == 0, v % 4 == 1, v % 4 == 2],
        [stem, stem + "_old", stem.str.upper()], stem + vs)
    repo = ("org" + pd.Series(doc % 7).astype(str) + "/repo"
            + pd.Series(doc % 101).astype(str) + "_"
            + pd.Series(v % 16).astype(str))
    commit = [hashlib.sha256(f"c{a}-{b}".encode()).hexdigest()[:40]
              for a, b in zip(doc, v)]
    content = np.where(v % 2 == 0, d["text"], d["text"] + " v" + vs)
    return pd.DataFrame({
        "repo": repo,
        "path": "src/" + d["source"] + "/" + perturbed + "." + d["lang"],
        "commit": commit,
        "lang": d["lang"],
        "content": content,
    })


def _sha256_hex(values) -> list[str]:
    return [hashlib.sha256(s.encode()).hexdigest() for s in values]


class RepoFiles(Workload):
    """The repo-file table through SparkLinker with checkpoints: fixed
    model, no training, predict, cluster, then RESUMES_PER_PASS resumes,
    each after the clusters stage is deleted."""

    name = "repo_files"

    def __init__(self, spark, seed: int, work_dir: str,
                 all_documents: bool = False):
        super().__init__(spark, seed, work_dir)
        self.n_docs = None if all_documents else REPO_DOCS
        self.ckpt = os.path.join(work_dir, "checkpoints")

    def setup(self) -> None:
        self.pdf = repo_file_rows(gen.documents(self.seed, self.n_docs),
                                  REPO_VARIANTS)
        self._load(self.pdf)

    def _linker(self) -> SparkLinker:
        return SparkLinker(self.spark, derive_repo_file_ids(self.df),
                           entry_settings(), checkpoint_dir=self.ckpt,
                           enable_checkpoints=True)

    def _drop_clusters(self) -> None:
        shutil.rmtree(os.path.join(self.ckpt, "clusters"))

    def warm_up(self) -> None:
        """A pass without the resume, which reads back what the pass wrote
        and so runs warm in the first timed pass."""
        shutil.rmtree(self.ckpt, ignore_errors=True)
        lk = self._linker()
        force(lk.predict())
        force(lk.cluster(THRESHOLD))

    def run_pass(self) -> dict:
        shutil.rmtree(self.ckpt, ignore_errors=True)
        t0 = time.perf_counter()
        lk = self._linker()
        force(lk.predict())
        force(lk.cluster(THRESHOLD))
        e2e = time.perf_counter() - t0
        resumes = []
        for _ in range(RESUMES_PER_PASS):
            self._drop_clusters()
            t0 = time.perf_counter()
            force(self._linker().cluster(THRESHOLD))
            resumes.append(time.perf_counter() - t0)
        return {"e2e_s": e2e, "resume_s": resumes}

    def traced(self, tr: Tracer) -> Measurement:
        shutil.rmtree(self.ckpt, ignore_errors=True)
        lk = self._linker()
        with tr.layer("nodes"):
            force(lk.nodes())
        with tr.layer("blocking"):
            force(lk.blocked_pairs())
        with tr.layer("vectors"):
            force(lk.comparison_vectors())
        with tr.layer("score"):
            force(lk.predict())
        with tr.layer("cluster"):
            force(lk.cluster(THRESHOLD))
        self._drop_clusters()
        with tr.layer("plans"):
            force(self._linker().cluster(THRESHOLD))
        self.facts["plans.bytes_written"] = sum(
            os.path.getsize(os.path.join(root, f))
            for root, _, files in os.walk(self.ckpt) for f in files)
        self.facts["plans.stage_wall_s"] = sum(
            r.get("wall_sec", 0.0) for r in lk.metrics.records)
        return Measurement(attempted=1)

    def check(self) -> list[str]:
        lk = self._linker()  # every stage resumes from the last pass
        pred = lk.predict()
        hist = _histogram(pred, lk.settings)
        membership, problems = _clusters_problems(
            pred, lk.cluster(THRESHOLD), "unique_id")
        nodes = self.pdf.assign(
            unique_id=_sha256_hex(
                self.pdf["repo"] + "\x01" + self.pdf["path"] + "\x01"
                + self.pdf["commit"]),
            content_sha=_sha256_hex(self.pdf["content"]))
        expected = checks.oracle_histogram(lk.settings, nodes)
        problems = checks.compare_histograms("predict", expected, hist) \
            + problems
        self.facts["pairs"] = sum(expected.values())
        self.facts["clusters"] = len(set(membership.values()))
        got = (self.facts["pairs"], self.facts["clusters"])
        if self.n_docs is None and got != BENCH_R06:
            problems.append(f"(pairs, clusters) = {got}, the BENCH_r06 "
                            f"record has {BENCH_R06}")
        return problems


class IncrementalMatch(Workload):
    """A trained linker serving one client in a closed loop: each cycle is
    one find_matches_to_new_records request of REQUEST_RECORDS records
    between SWEEPS_PER_CYCLE sweeps of single-pair compare_two_records_fast
    requests over the same N_PAIRS pairs."""

    name = "incremental_match"
    setup_repeats = 2  # a set-up trains a model and takes 10-30 s

    def setup(self) -> None:
        self.pdf = gen.person_records(self.seed, INCREMENTAL_ROWS)
        self._load(self.pdf, PERSON_SCHEMA)
        self.requests = gen.new_person_requests(
            self.seed, self.pdf, N_REQUESTS, REQUEST_RECORDS)
        self.pairs = gen.record_pairs(self.seed, self.pdf, N_PAIRS)
        self.linker = self._trained(NullTracer())
        self.responses: dict[int, list] = {}
        self.scores: dict[int, dict] = {}
        self.pair_walls: dict[int, list[float]] = {}
        self._find(0)
        try:
            self._score(0)  # builds the driver-side scorer
        except Exception:  # noqa: BLE001 - failures are counted in measure
            pass

    def _trained(self, tr) -> SparkLinker:
        lk = SparkLinker(self.spark, self.df, person_settings())
        _train(lk, self.seed, tr, self.facts)
        return lk

    def _find(self, i: int) -> None:
        k = i % len(self.requests)
        new = self.spark.createDataFrame(self.requests[k], PERSON_SCHEMA)
        rows = self.linker.find_matches_to_new_records(new).collect()
        self.responses.setdefault(k, rows)

    def _score(self, j: int) -> None:
        k = j % len(self.pairs)
        out = self.linker.compare_two_records_fast(*self.pairs[k])
        self.scores.setdefault(k, out)

    def _cycle(self, i: int, m: Measurement, tr=None) -> None:
        """One find_matches request between two halves of
        SWEEPS_PER_CYCLE sweeps of single-pair requests over the pairs,
        recorded in `m`. Splitting the sweeps spreads each pair's calls
        over more moments of the run."""
        tr = tr or NullTracer()
        self._sweeps(SWEEPS_PER_CYCLE // 2, m, tr)
        m.attempted += 1
        t0 = time.perf_counter()
        try:
            with tr.layer("linker.find_matches"):
                self._find(i)
            m.walls.append(time.perf_counter() - t0)
        except Exception as exc:  # noqa: BLE001 - counted
            m.fail(exc)
        self._sweeps(SWEEPS_PER_CYCLE - SWEEPS_PER_CYCLE // 2, m, tr)

    def _sweeps(self, n: int, m: Measurement, tr) -> None:
        with tr.layer("realtime"):
            for j in range(N_PAIRS * n):
                m.attempted += 1
                t0 = time.perf_counter()
                try:
                    self._score(j)
                except Exception as exc:  # noqa: BLE001 - counted
                    m.fail(exc)
                    continue
                wall = time.perf_counter() - t0
                m.extra.setdefault("pair_score_s", []).append(wall)
                self.pair_walls.setdefault(j % N_PAIRS, []).append(wall)

    def warm_up(self) -> None:
        """Score every pair once, so the first timed cycle does not pay the
        first call into each string kernel; set-up has already made a warm
        find_matches request."""
        for j in range(N_PAIRS):
            try:
                self._score(j)
            except Exception:  # noqa: BLE001 - failures are counted in measure
                pass

    def measure(self, seconds: float) -> Measurement:
        """Cycles until `seconds` have passed and at least MIN_CYCLES were
        made. Every sweep scores the same pairs, so each pair that succeeds
        gets SWEEPS_PER_CYCLE call times per cycle, spread over the run:
        `pair_ok_fastest_mean_s` is the mean over those pairs of each
        pair's fastest call. Other load on a shared host slows calls, for
        seconds at a time and by more than the calls' own spread, and
        never speeds one up, so a pair's fastest call moves far less from
        run to run than its median."""
        self.warm_up()
        self.pair_walls = {}
        m = Measurement()
        t0 = time.perf_counter()
        i = 1
        while i <= MIN_CYCLES or time.perf_counter() - t0 < seconds:
            self._cycle(i, m)
            i += 1
        m.extra["loop_s"] = [time.perf_counter() - t0]
        m.extra["cycles"] = [i - 1]
        if self.pair_walls:
            m.extra["pair_ok_fastest_mean_s"] = [statistics.mean(
                min(w) for w in self.pair_walls.values())]
        return m

    def _session(self, tr) -> Measurement:
        self.linker = lk = self._trained(tr)
        with tr.layer("nodes"):
            force(lk.nodes())
        m = Measurement()
        for i in range(TRACE_CYCLES):
            self._cycle(i, m, tr)
        return m

    def reference(self) -> float:
        t0 = time.perf_counter()
        self._session(NullTracer())
        return time.perf_counter() - t0

    def traced(self, tr: Tracer) -> Measurement:
        return self._session(tr)

    def check(self) -> list[str]:
        settings = self.linker.settings
        cols = _gamma_cols(settings)
        problems = []
        for k, rows in sorted(self.responses.items()):
            got: checks.Histogram = {}
            for r in rows:
                key = tuple(int(r[c]) for c in cols)
                got[key] = got.get(key, 0) + 1
            expected = checks.oracle_histogram(settings, self.pdf,
                                               self.requests[k])
            problems += checks.compare_histograms(
                f"find_matches request {k}", expected, got)
        if self.scores:
            ks = sorted(self.scores)
            left = pd.DataFrame([self.pairs[k][0] for k in ks])
            right = pd.DataFrame([self.pairs[k][1] for k in ks])
            expected = checks.oracle_pair_gammas(settings, left, right)
            for k, exp in zip(ks, expected):
                got = tuple(int(self.scores[k][c]) for c in cols)
                if got != exp:
                    problems.append(f"pair {k}: gammas {got}, oracle {exp}")
                    break
        return problems


WORKLOADS = {w.name: w for w in (DonorDedupe, RepoFiles, IncrementalMatch)}

