"""Repo benchmark: seeded workloads, output checks and outside-in
per-layer tracing. Run ``python3 perfbench/run.py --help``."""

# the match_queries workload's keys, one ``operators.<key>`` span each
MATCH_KEYS = (
    "q_player_rank",
    "q_window_rank",
    "q_window_row_number",
    "q_window_sum",
    "q_groupjoin_deathshare",
    "q_champion_stats",
    "q_derived_features",
)
