"""Seeded fake Riot match API for the crawl (run by ``match_queries``' traced run).

``SeededRiotTransport`` plugs into the ``riot_matches`` data source
through its ``transport`` option (``perfbench.fake_riot:SeededRiotTransport``).
Spark builds the transport with no arguments when it creates the reader,
in a Python process that the JVM starts, and ships it to the tasks. The
API's seed and overlap share therefore travel in the
``PERFBENCH_RIOT_API`` environment variable (``"<seed>:<overlap>"``),
which must be set in the benchmark process before the SparkSession
starts so that the JVM and every Python process it starts inherit it.
The API is unpaced.

Every response is a pure function of (seed, key), so a batch read and a
stream of the same user range see identical documents. A seeded share of
each user's match ids is drawn from a small shared pool, so the same
match is listed by many users and its detail is fetched more than once.
"""

from __future__ import annotations

import os
from collections.abc import Sequence

import numpy as np

from aram_matchdata_etl_spark.sources.riot_datasource import Transport

ENV = "PERFBENCH_RIOT_API"
MATCHES_PER_USER = 10
SHARED_POOL = 400  # ids in the shared pool that overlapping listings draw from


def api_spec(seed: int, overlap: float) -> str:
    return f"{seed}:{overlap}"


class SeededRiotTransport(Transport):
    def __init__(self) -> None:
        seed, overlap = os.environ[ENV].split(":")
        self.seed = int(seed)
        self.overlap = float(overlap)

    def match_ids(self, user_id: int) -> Sequence[str]:
        rng = np.random.default_rng([self.seed, 1, user_id])
        ids = []
        for i in range(MATCHES_PER_USER):
            if rng.random() < self.overlap:
                num = int(rng.integers(0, SHARED_POOL))
            else:
                num = SHARED_POOL + user_id * MATCHES_PER_USER + i
            ids.append(f"KR_{num:07d}")
        return list(dict.fromkeys(ids))  # one listing never repeats an id

    def match_detail(self, match_id: str) -> dict:
        num = int(match_id.split("_")[1])
        rng = np.random.default_rng([self.seed, 2, num])
        win_team = int(rng.integers(0, 2))
        participants = [
            {
                "puuid": f"P{int(rng.integers(0, 5000))}",
                "teamId": 100 if i < 5 else 200,
                "kills": int(rng.integers(0, 26)),
                "deaths": int(rng.integers(0, 16)),
                "assists": int(rng.integers(0, 41)),
                "win": (i < 5) == (win_team == 0),
            }
            for i in range(10)
        ]
        return {
            "metadata": {
                "matchId": match_id,
                "participants": [p["puuid"] for p in participants],
            },
            "info": {
                "gameMode": "CLASSIC" if rng.random() < 0.1 else "ARAM",
                "gameDuration": int(rng.integers(180, 2400)),
                "participants": participants,
            },
        }

    def match_timeline(self, match_id: str) -> dict:
        num = int(match_id.split("_")[1])
        rng = np.random.default_rng([self.seed, 3, num])
        return {
            "metadata": {"matchId": match_id},
            "frames": [
                {"t": i * 60000, "events": int(rng.integers(0, 7))} for i in range(5)
            ],
        }
