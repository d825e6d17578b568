"""Workload key lists and artifact-owning keys.

Each workload is a fixed, ordered subset of the registry. The candidate
pool of a workload is given by a rule over the registry (the module
that registers a key, or a name prefix); the subset is sized so that
one run (set-up, the check pass and the timed passes) takes about 30 s
on a 4-core machine, which keeps a comparison's 70 runs within an hour.
No key runs in two workloads.
"""

from __future__ import annotations

from collections.abc import Callable

# Candidate pools, as rules over (key, defining module).
POOLS: dict[str, Callable[[str, str], bool]] = {
    "olap_sf0.1": lambda key, mod: mod.rsplit(".", 1)[-1]
    in ("aggregations", "joins", "windows", "analytics", "streaming_batch"),
    "curation_sf0.1": lambda key, mod: mod.endswith(".llm")
    and key.startswith(("dedup_", "sim_", "embed_", "sample_", "quality_", "pipeline_")),
    "stream_sf0.1": lambda key, mod: mod.endswith("streaming.jobs")
    and key not in ("stream_cep_ooo", "stream_cep_gapped_true", "stream_stateful_ema"),
}

WORKLOADS: dict[str, list[str]] = {
    # Keyed-sum reduce, broadcast and shuffle joins, ranking and
    # running windows (two of them unpartitioned), and the batch twins
    # of the stream workload's tumbling window and dedup.
    "olap_sf0.1": [
        "agg_reduce_sum",
        "join_broadcast",
        "join_shuffle_equi",
        "window_row_number",
        "window_rank_stake",
        "window_percent_rank",
        "stream_tumbling",
        "stream_dedup",
        "stream_watermark_late",
    ],
    # The dedup -> similarity -> sampling chain, with the keys that own
    # fixture-cache artifacts (MinHash signatures and candidate pairs).
    "curation_sf0.1": [
        "dedup_exact",
        "dedup_minhash_est",
        "dedup_near_minhash",
        "sim_ann_ivf",
        "sim_ann_lsh_topk",
        "sim_cosine_topk",
        "sample_stratified_rebalance",
        "pipeline_curation_e2e",
    ],
    # Incremental twins of olap's tumbling window and dedup, a
    # stream-static join and the state-store reader.
    "stream_sf0.1": [
        "stream_tumbling_true",
        "stream_dedup_true",
        "stream_static_join_true",
        "stream_state_inspect",
    ],
}

# Workload keys whose first run builds a fixture-cache artifact; set-up
# runs each once so the timed passes serve the artifact.
ARTIFACT_OWNERS: dict[str, list[str]] = {
    "olap_sf0.1": [],
    "curation_sf0.1": ["dedup_minhash_est"],
    "stream_sf0.1": [],
}


def validate(queries: dict[str, Callable]) -> None:
    """Raise if a list names a key the registry lacks or breaks its rule."""
    seen: set[str] = set()
    for name, keys in WORKLOADS.items():
        for key in keys:
            if key not in queries:
                raise KeyError(f"{name}: {key} is not registered")
            if not POOLS[name](key, queries[key].__module__):
                raise ValueError(f"{name}: {key} is outside the workload's pool")
            if key in seen:
                raise ValueError(f"{key} runs in two workloads")
            seen.add(key)
        for key in ARTIFACT_OWNERS[name]:
            if key not in keys:
                raise ValueError(f"{name}: artifact owner {key} is not a workload key")
