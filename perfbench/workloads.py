"""The benchmark's workloads: named lists of registered queries.

Every run pays a fresh session set-up (18-26 s on 4 vCPUs), a first pass
and a check pass that warm the JIT, and then two cold and two warm
passes, so each list is sized for a warm pass of 2-4 s at sf0.1 and a
run of under a minute.  Why each workload exists is recorded in
``BENCHMARK.json``.
"""

WORKLOADS: dict[str, list[str]] = {
    # Per-query fixed cost: sub-second relational, window and text
    # queries, an executable-compatible MapReduce job, and an
    # availableNow stream into a memory sink (stream start-up, checkpoint
    # and state commits).  No loops and no derived-model store, so its
    # cold and warm passes do the same work.
    "short_queries": [
        "join_semi",
        "window_rank_orders",
        "grep",
        "mr_grep",
        "streaming_dedup_keys",
    ],
    # An iterative loop and a similarity funnel sharing one stored model:
    # Lloyd's k-means rounds (jobs per round) train the quantizer, which
    # the trained-IVF kNN query probes (candidate -> exact cosine verify).
    # The cold pass trains and writes the model to the store; the warm
    # passes read it.  No MapReduce jobs and no streams.
    "iterative_similarity": [
        "embedding_kmeans_ivf_train",
        "knn_ivf_trained",
    ],
}
