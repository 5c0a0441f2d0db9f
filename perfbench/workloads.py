"""The benchmark's workloads. Each runs a whole pipeline through the
package's public functions on seeded inputs, one pass at a time, and
checks the output of every pass.

A workload's ``why`` is the reason it exists; ``BENCHMARK.json`` carries
the same text. A pass returns its wall time and the latencies of its
steps (the queries of ``match_queries``, the micro-batches of the crawl).

Output checks are pure functions of collected rows, so the benchmark's
own tests can feed them perturbed results.
"""

from __future__ import annotations

import hashlib
import math
import os
import shutil
import statistics
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

from aram_matchdata_etl_spark.ml import ranking
from aram_matchdata_etl_spark.sources.crawl_api import DETAIL_SCHEMA
from aram_matchdata_etl_spark.sources.riot_datasource import RiotMatchDataSource
from aram_matchdata_etl_spark.streaming.atomic import current_version_path, read_current
from aram_matchdata_etl_spark.streaming.crawl import upsert_sink

from . import MATCH_KEYS, fake_riot
from .inputs import write_events_dir


@dataclass
class PassResult:
    wall_s: float
    attempted: int
    failed: int = 0
    problems: list[str] = field(default_factory=list)
    # workload-specific figures of the pass, e.g. test_rmse or batch count
    figures: dict[str, float] = field(default_factory=dict)
    steps: list[float] = field(default_factory=list)  # query or micro-batch latencies
    traced: bool = False
    peak_rss_mb: float = 0.0
    output_hash: str = ""  # digest of the pass's checked output


class Workload:
    name = ""
    why = ""
    # untimed passes before the timed ones; setup_s ends with the first
    WARMUP_PASSES = 1

    def __init__(self, work_dir: str, seed: int, scale: float = 1.0):
        self.work_dir = work_dir
        self.seed = seed
        self.scale = scale
        self.check_s = 0.0  # time spent in output checks, kept out of setup_s

    @contextmanager
    def checking(self):
        t = time.time()
        try:
            yield
        finally:
            self.check_s += time.time() - t

    def env(self) -> dict[str, str]:
        """Environment the Spark JVM must start with."""
        return {}

    def make_inputs(self) -> None:
        """Write the seeded inputs. Never timed."""

    def open(self, spark) -> None:
        """Untimed preparation once the session is up."""

    def run_pass(self, spark, tracer, index: int) -> PassResult:
        raise NotImplementedError

    def run_extras(self, spark, tracer) -> list[PassResult]:
        """Standalone spans of the traced run, outside every pass; returns
        the checked passes it ran, if any."""
        return []

    def report(self, passes: list[PassResult]) -> list[tuple[str, float, str]]:
        """The workload's own end-to-end figures, by the names users cite."""
        return []


def _size(base: int, scale: float, floor: int) -> int:
    return max(floor, int(base * scale))


def rows_digest(rows) -> str:
    """Order-insensitive digest of result rows."""
    return hashlib.sha256(repr(sorted(rows)).encode()).hexdigest()[:16]


def _median(values) -> float:
    values = list(values)
    return statistics.median(values) if values else 0.0


# --------------------------------------------------------------------------
# rank_train


def check_ranking(
    pred: list[tuple], reloaded: list[tuple], n_test: int, scores: dict[str, float]
) -> list[str]:
    """``pred`` rows are (row_uid, predicted_score, predicted_rank, win,
    rank_in_match) from the trained ensemble, ``reloaded`` the same from
    the ensemble after save/load. The invariants are those of the
    reference's labeling and modeling tests: winners' mean label rank
    below losers', exact save/load parity, and rank accuracy exact <=
    within 1 <= within 2."""
    problems = []
    if len(pred) != n_test:
        problems.append(f"predicted {len(pred)} rows for {n_test} test rows")
    got = {r[0]: (r[1], r[2]) for r in pred}
    back = {r[0]: (r[1], r[2]) for r in reloaded}
    if got != back:
        diff = sum(1 for k in got.keys() | back.keys() if got.get(k) != back.get(k))
        problems.append(f"save/load changed {diff} predictions")
    win = [r[4] for r in pred if r[3]]
    lose = [r[4] for r in pred if not r[3]]
    if not win or not lose or statistics.fmean(win) >= statistics.fmean(lose):
        problems.append("winners' mean label rank is not below losers'")
    exact, one, two = (scores[k] for k in ("rank_acc_exact", "rank_acc_1", "rank_acc_2"))
    if not 0.0 < exact <= one <= two <= 1.0:
        problems.append(f"rank accuracy out of order: {exact} {one} {two}")
    rmse = scores["rmse"]
    if not (math.isfinite(rmse) and rmse > 0.0):
        problems.append(f"test rmse {rmse}")
    return problems


class RankTrain(Workload):
    name = "rank_train"
    why = (
        "the paper's transform->train->rank flow: silver rows, match-level split, "
        "ensemble train, predict, evaluate, save/load; the ml layer does most of the work"
    )
    MATCHES = 1000
    # One of the five default members, the linear model: one pass of the
    # full default ensemble takes a minute on four cores, more than a run
    # can afford. train_ensemble still runs its whole path (clip bounds,
    # validation split, validation fit, final fit, weights).
    MEMBERS = ("lr",)

    def make_inputs(self) -> None:
        self.events_dir = write_events_dir(
            os.path.join(self.work_dir, "events"),
            self.seed,
            _size(self.MATCHES, self.scale, 50),
        )
        self.model_dir = os.path.join(self.work_dir, "models")

    def members(self, names=MEMBERS) -> dict:
        models = ranking.default_models()
        return {k: models[k] for k in names}

    def _split(self, spark):
        silver = ranking.silver_with_derived(spark, self.events_dir)
        train, test = ranking.match_level_split(silver)
        return train.persist(), test.persist()

    def run_pass(self, spark, tracer, index: int) -> PassResult:
        path = os.path.join(self.model_dir, f"pass{index}")
        t0 = time.time()
        with tracer.span("operators.silver"):
            train, test = self._split(spark)
            train.count()
            n_test = test.count()
        with tracer.span("ml.train"):
            ens = ranking.train_ensemble(train, models=self.members())
        with tracer.span("ml.predict"):
            pred = ens.predict(test).persist()
            pred.count()
        with tracer.span("ml.evaluate"):
            scores = ranking.evaluate(pred)
        with tracer.span("ml.save"):
            ens.save(path)
        with tracer.span("ml.load"):
            loaded = ranking.RankingEnsemble.load(path)
        wall = time.time() - t0

        cols = ["row_uid", "predicted_score", "predicted_rank", "win", "rank_in_match"]
        with self.checking():
            got = [tuple(r) for r in pred.select(*cols).collect()]
            back = [tuple(r) for r in loaded.predict(test).select(*cols).collect()]
            problems = check_ranking(got, back, n_test, scores)
            digest = rows_digest((r[0], r[1], r[2]) for r in got)
        for df in (pred, train, test):
            df.unpersist()
        shutil.rmtree(path, ignore_errors=True)
        return PassResult(
            wall_s=wall,
            attempted=1,
            failed=int(bool(problems)),
            problems=problems,
            output_hash=digest,
            figures={
                "test_rmse": scores["rmse"],
                "rank_acc_exact": scores["rank_acc_exact"],
            },
        )

    def run_extras(self, spark, tracer) -> None:
        train, test = self._split(spark)
        train.count()
        for name in self.MEMBERS:
            with tracer.span(f"ml.train.{name}"):
                ranking.train_ensemble(train, models=self.members((name,)))
        train.unpersist()
        test.unpersist()
        return []

    def report(self, passes):
        ok = [p for p in passes if "test_rmse" in p.figures]
        if not ok:
            return []
        return [
            ("test_rmse", ok[0].figures["test_rmse"], "score"),
            ("rank_acc_exact", ok[0].figures["rank_acc_exact"], "fraction"),
        ]


# --------------------------------------------------------------------------
# the crawl (traced run of match_queries)


def bronze(df):
    """Bronze projection of ``riot_matches`` rows: parse the detail
    document against the package's schema and keep ARAM matches."""
    from pyspark.sql import functions as F

    parsed = df.withColumn("doc", F.from_json("detail_json", DETAIL_SCHEMA))
    return parsed.filter(F.col("doc.info.gameMode") == "ARAM").select(
        F.col("doc.metadata.matchId").alias("match_id"),
        F.col("doc.info.gameDuration").alias("game_duration"),
        F.size("doc.info.participants").alias("n_participants"),
        "detail_json",
        "timeline_json",
    )


def check_bronze(final: list[tuple], want: set[tuple]) -> list[str]:
    """The streamed table must equal the batch read of the same source,
    with one row per match id. Rows are (match_id, game_duration,
    n_participants)."""
    problems = []
    ids = [r[0] for r in final]
    if len(ids) != len(set(ids)):
        problems.append(f"{len(ids) - len(set(ids))} duplicate match ids")
    got = set(final)
    if got != want:
        problems.append(
            f"bronze differs from the batch read: {len(got - want)} extra, "
            f"{len(want - got)} missing"
        )
    return problems


def _dir_bytes(path: str | None) -> int:
    if path is None:
        return 0
    return sum(
        os.path.getsize(os.path.join(d, f)) for d, _, files in os.walk(path) for f in files
    )


class CrawlIngest(Workload):
    """The write path: stream the seeded fake Riot API into the versioned
    bronze upsert, one micro-batch per 20 users. Not a timed workload of
    its own (its pass time swings with the host's load far more than the
    bound allows): ``match_queries`` runs it in its traced run, so the
    ``sources`` and ``streaming`` layers are still measured."""

    name = "crawl_ingest"
    USERS = 100
    USERS_PER_BATCH = 20
    OVERLAP = 0.3
    KEY = ("match_id", "game_duration", "n_participants")
    DURATIONS = {
        "latest_offset_s": "latestOffset",
        "planning_s": "queryPlanning",
        "add_batch_s": "addBatch",
        "wal_commit_s": "walCommit",
    }

    def env(self) -> dict[str, str]:
        return {fake_riot.ENV: fake_riot.api_spec(self.seed, self.OVERLAP)}

    def make_inputs(self) -> None:
        self.users = _size(self.USERS, self.scale, 2 * self.USERS_PER_BATCH)

    def _options(self) -> dict[str, str]:
        return {
            "n_users": str(self.users),
            "users_per_batch": str(self.USERS_PER_BATCH),
            "transport": "perfbench.fake_riot:SeededRiotTransport",
        }

    def open(self, spark) -> None:
        spark.dataSource.register(RiotMatchDataSource)
        with self.checking():
            batch = spark.read.format("riot_matches").options(**self._options()).load()
            rows = bronze(batch).select(*self.KEY).dropDuplicates(["match_id"]).collect()
            self.want = {tuple(r) for r in rows}

    def run_pass(self, spark, tracer, index: int) -> PassResult:
        base = os.path.join(self.work_dir, "crawl", f"pass{index}")
        shutil.rmtree(base, ignore_errors=True)
        target = os.path.join(base, "bronze")
        spark.catalog.clearCache()
        sink = upsert_sink(target, ["match_id"], order_cols=("match_id",))
        written: list[int] = []

        def apply(batch, epoch_id):
            t = time.time()
            sink(batch, epoch_id)
            tracer.record("streaming.merge_upsert", t, time.time())
            if tracer.enabled:
                written.append(_dir_bytes(current_version_path(target)))

        t0 = time.time()
        with tracer.span("streaming.crawl"):
            stream = spark.readStream.format("riot_matches").options(**self._options()).load()
            q = (
                bronze(stream)
                .writeStream.outputMode("update")
                .foreachBatch(apply)
                .option("checkpointLocation", os.path.join(base, "checkpoint"))
                .trigger(processingTime="0 seconds")
                .start()
            )
            try:
                q.processAllAvailable()
            finally:
                q.stop()
        wall = time.time() - t0

        progress = [p for p in q.recentProgress if p.numInputRows > 0]
        with self.checking():
            final = [
                tuple(r) for r in read_current(spark, target).select(*self.KEY).collect()
            ]
            problems = check_bronze(final, self.want)
            digest = rows_digest(final)
        rows_read = sum(p.numInputRows for p in progress)
        figures = {
            "matches": float(len(final)),
            "batches": float(len(progress)),
            "fetch_requests": float(self.users + 2 * rows_read),
            "useful_fetch_ratio": len(final) / max(rows_read, 1),
        }
        for metric, key in self.DURATIONS.items():
            figures[metric] = _median(p.durationMs.get(key, 0) / 1000.0 for p in progress)
        if written:
            figures["bytes_written_per_byte"] = sum(written) / max(written[-1], 1)
        shutil.rmtree(base, ignore_errors=True)
        return PassResult(
            wall_s=wall,
            steps=[p.durationMs["triggerExecution"] / 1000.0 for p in progress],
            attempted=1,
            failed=int(bool(problems)),
            problems=problems,
            output_hash=digest,
            figures=figures,
        )

    def run_extras(self, spark, tracer) -> None:
        with tracer.span("sources.crawl_read"):
            spark.read.format("riot_matches").options(**self._options()).load().write.format(
                "noop"
            ).mode("overwrite").save()

    def report(self, passes):
        ok = [p for p in passes if "matches" in p.figures]
        steps = [s for p in ok for s in p.steps]
        return [
            ("ingest_matches_per_s", _median(p.figures["matches"] / p.wall_s for p in ok), "matches/s"),
            ("batch_s_p50", _median(steps), "s"),
            ("batch_s_p90", quantile(steps, 0.9), "s"),
            ("batch_samples", float(len(steps)), "count"),
        ]


# --------------------------------------------------------------------------
# match_queries

def check_query(name: str, got_cols: list[str], got: list[tuple], want_cols, want) -> list[str]:
    """One query's result against its DuckDB oracle, both normalized by
    the repo's comparator (``tests/oracle_utils.normalize``)."""
    if sorted(got_cols) != sorted(want_cols):
        return [f"{name}: columns {sorted(got_cols)} != oracle {sorted(want_cols)}"]
    if len(got) != len(want):
        return [f"{name}: {len(got)} rows, oracle {len(want)}"]
    if got != want:
        diff = sum(1 for a, b in zip(got, want) if a != b)
        return [f"{name}: {diff} rows differ from the oracle"]
    return []


class MatchQueries(Workload):
    name = "match_queries"
    why = (
        "short analyst reads: one client runs the 7 registered match queries over seeded "
        "events into the noop sink; operators and planning work; the traced run adds the crawl"
    )
    # The queries are planning-bound (a few tenths of a second each at any
    # size tried up to 10,000 matches); 1,000 keeps the per-pass oracle
    # comparison of every result cheap.
    MATCHES = 1_000
    # the first pass after the cold one still runs up to 20% slower
    WARMUP_PASSES = 2

    def __init__(self, work_dir: str, seed: int, scale: float = 1.0):
        super().__init__(work_dir, seed, scale)
        self.crawl = CrawlIngest(os.path.join(work_dir, "crawl"), seed, scale)

    def env(self) -> dict[str, str]:
        return self.crawl.env()

    def make_inputs(self) -> None:
        self.sf_dir = write_events_dir(
            os.path.join(self.work_dir, "events"),
            self.seed,
            _size(self.MATCHES, self.scale, 50),
        )
        self.crawl.make_inputs()

    def open(self, spark) -> None:
        from aram_matchdata_etl_spark.registry import all_oracles, all_queries
        from tests.oracle_utils import duckdb_df, normalize

        queries, oracles = all_queries(), all_oracles()
        self.queries = {k: queries[k] for k in MATCH_KEYS}
        self.want = {}
        with self.checking():
            for k in MATCH_KEYS:
                pdf = duckdb_df(oracles[k], self.sf_dir)
                self.want[k] = (list(pdf.columns), normalize(pdf))

    def run_pass(self, spark, tracer, index: int) -> PassResult:
        from tests.oracle_utils import normalize

        frames, steps = {}, []
        t0 = time.time()
        for k in MATCH_KEYS:
            with tracer.span(f"operators.{k}"):
                t = time.time()
                frames[k] = self.queries[k](spark, self.sf_dir)
                frames[k].write.format("noop").mode("overwrite").save()
                steps.append(time.time() - t)
        wall = time.time() - t0

        problems, digests = [], []
        with self.checking():
            for k, df in frames.items():
                pdf = df.toPandas()
                rows = normalize(pdf)
                problems += check_query(k, list(pdf.columns), rows, *self.want[k])
                digests.append(rows_digest([repr(rows)]))
        return PassResult(
            wall_s=wall,
            steps=steps,
            attempted=len(MATCH_KEYS),
            failed=len({p.split(":")[0] for p in problems}),
            problems=problems,
            output_hash=rows_digest([tuple(digests)]),
        )

    def run_extras(self, spark, tracer) -> list[PassResult]:
        """The crawl: the batch read, one untraced stream to warm it up,
        then one traced stream, each checked against the batch read."""
        self.crawl.open(spark)
        self.crawl.run_extras(spark, tracer)
        tracer.enabled = False
        out = [self.crawl.run_pass(spark, tracer, 0)]
        tracer.enabled = True
        out.append(self.crawl.run_pass(spark, tracer, 1))
        return out

    def report(self, passes):
        steps = [s for p in passes for s in p.steps]
        return [
            ("query_s_p50", _median(steps), "s"),
            ("query_s_p90", quantile(steps, 0.9), "s"),
            ("query_samples", float(len(steps)), "count"),
        ]


def quantile(values: list[float], q: float) -> float:
    """Linear-interpolated quantile; the single value for one sample."""
    values = sorted(values)
    if not values:
        return 0.0
    pos = q * (len(values) - 1)
    lo = math.floor(pos)
    hi = min(lo + 1, len(values) - 1)
    return values[lo] + (values[hi] - values[lo]) * (pos - lo)


WORKLOADS = {w.name: w for w in (RankTrain, MatchQueries)}
