"""The benchmark's workloads.

`ops` are `SparkEntry.queries` names. `fixtures` are the
public `Etl` builders those queries read: each run primes them into its own
empty fixture cache before anything is timed, and set-up times them again
on the primed cache.

Each workload is sized so that one pass takes a few seconds single-threaded
and a whole run, with its cold pass, warm-up and two set-ups, stays under a
minute on four shared cores.
"""

WORKLOADS = {
    # The reference's crime queries in their typed, SQL, broadcast-variable
    # and broadcast-hint formulations, over parquet and the CSV source twin.
    # Planning-, scan- and join-bound; no iterative loop, no stream.
    "ref_batch": {
        "ops": [
            "q2_typed", "q2_csv", "q3_hint_broadcast", "q4_distance_sql",
            "q4_distance_bcastvar",
        ],
        "fixtures": ["csvFixture:events"],
    },
    # Iterative and incremental curation: eager localCheckpoints and the
    # star-CC RDD graph loop, and a windowed micro-batch stream (trigger
    # loop, state store, WAL and checkpoint writes). Most of the wall is
    # driver time outside tasks.
    "curation_iter": {
        "ops": ["dedup_clusters_star", "stream_window_tumbling"],
        "fixtures": [],
    },
}
