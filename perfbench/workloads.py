"""Frozen workload definitions.

Membership is fixed here by name and never re-derived from
measurements, so a change that removes build-time jobs from a query does
not move that query between workloads. ``validate`` fails loudly when a
frozen name has left the registry.

How the frozen samples were drawn (once, with ``random.Random(0)``):

* the exec pool is the registry minus ``ITERATIVE_SET`` minus the six
  instrument probes (505 queries at the time). Each ``queries_*``
  module's names were shuffled and given a random phase ``u``; the i-th
  name of a module of size n got the key ``(i + u) / n``, and the pool
  was sorted by key. Every prefix of that order is stratified by module,
  and ``EXEC_OPS`` is its first names.
* ``ITERATIVE_SET`` is every query bound by driver round-trips: the 17
  ``queries_streaming`` queries plus the 24 that fired at least five
  jobs during construction. ``ITERATIVE_OPS`` is the first AvailableNow
  drain and the first build-loop query of that set, each list shuffled
  the same way.

The pass sizes are set by the run budget: every run starts a fresh JVM,
which on four cores costs about half a minute with its warm-up, and a
whole run, checks included, has to stay near a minute.

Every run uses ``local[CORES]``: two task threads leave the other two of
four cores to the JVM's compiler and GC threads, the Python driver and
the Python workers, so a closed loop with one client does not queue on
its own threads.
"""

from __future__ import annotations

from dataclasses import dataclass, field, replace

PROBES = frozenset(
    {
        "probe_const_control",
        "probe_hugeint_cast",
        "probe_dup_keys",
        "panel_const_twin",
        "probe_ev_us_round",
        "probe_doc_content",
    }
)

STREAMING_SET = (
    "stream_windowed_counts stream_hopping_counts stream_sessionize "
    "sessionize_batch stream_dedup stream_static_join events_json_extract "
    "corrupt_quarantine stream_quarantine stream_windowed_users "
    "stream_session_window stream_foreachbatch_mv stream_upsert "
    "stream_stream_join stream_hll_users late_arrival_audit stream_window_topk"
).split()

BUILD_LOOP_SET = (
    "ece_calibration pagerank bfs_reachability not_in_null_trap katz_3step "
    "golden_record personalized_pagerank rare_term_cosine_pairs bradley_terry "
    "sssp_bounded minhash_calibration label_propagation harmonic_centrality "
    "graph_modularity ktruss ivf_nprobe_sweep markov_attribution graph_summary "
    "dbscan_grid upsert_partitioned kmeans_fit pca_power bpe_merge_steps kcore"
).split()

ITERATIVE_SET = tuple(STREAMING_SET + BUILD_LOOP_SET)

# first names of the stratified orders described above
EXEC_OPS = (
    "hyperplane_lsh_pairs",  # queries_text
    "target_encode_oof",  # queries_llm
)
ITERATIVE_OPS = (
    "stream_window_topk",  # streaming drain
    "bfs_reachability",  # build loop
)

CORES = 2

# nightly stage chain, in jobs.run_stage names
STAGES = (
    "park_factor",
    "hitter_woba",
    "pitcher_metrics",
    "park_adjusted",
    "hitter_records",
    "pitcher_records",
)


@dataclass(frozen=True)
class Workload:
    name: str
    why: str
    loop: str
    seed_controls: str
    inputs: str
    # registry workloads: stratum -> (scale factor, frozen query names)
    strata: dict = field(default_factory=dict)
    league: dict = field(default_factory=dict)

    @property
    def registry(self) -> bool:
        return bool(self.strata)


ADHOC = Workload(
    name="adhoc",
    why=(
        "closed loop, 1 client, local[2]; 2 exec-bound queries at sf0.1 and 2 "
        "round-trip-bound at sf0.01, frozen, seed-ordered; scan/shuffle and "
        "build-loop/drain changes show"
    ),
    loop="closed loop, 1 client, no think time, local[2]",
    seed_controls="op order within a pass; the tables are fixed (seed 0)",
    inputs=(
        "star tables at sf0.1 (600k lineitem rows, 17.5 MB parquet) and "
        "sf0.01 (60k rows, 1.9 MB)"
    ),
    strata={"exec": (0.1, EXEC_OPS), "iterative": (0.01, ITERATIVE_OPS)},
)
NIGHTLY = Workload(
    name="nightly",
    why=(
        "closed loop, 1 client, local[2]; seeded 6-team league, per game day "
        "2 upserts land the batch and 6 run_stage calls follow; the only "
        "workload that writes tables"
    ),
    loop="closed loop, 1 client, one game day per pass, local[2]",
    seed_controls="every generated season, box score and lineup",
    inputs="6 teams, 120 hitters, 48 pitchers, 20 days of history",
    league={"teams": 6, "hitters_per_team": 20, "pitchers_per_team": 8, "history_days": 20},
)

WORKLOADS = {w.name: w for w in (ADHOC, NIGHTLY)}
TINY_LEAGUE = {"teams": 4, "hitters_per_team": 10, "pitchers_per_team": 3, "history_days": 3}


def tiny(w: Workload) -> Workload:
    """The same workload at self-check size: sf0.001, a 4-team league."""
    return replace(
        w,
        strata={k: (0.001, names) for k, (_sf, names) in w.strata.items()},
        league=w.league and TINY_LEAGUE,
    )


def validate(registry_names) -> None:
    """Raise if a frozen name is missing from the registry."""
    names = set(registry_names)
    missing = [n for n in (*ITERATIVE_SET, *EXEC_OPS) if n not in names]
    if missing:
        raise SystemExit(f"frozen workload names left the registry: {missing}")
    overlap = set(EXEC_OPS) & (set(ITERATIVE_SET) | PROBES)
    if overlap or not set(ITERATIVE_OPS) <= set(ITERATIVE_SET):
        raise SystemExit(f"workload sets overlap: {sorted(overlap)}")
