"""The benchmark's workloads and their seeded inputs.

Each query workload is a fixed list of declared queries (names from
`SparkEntry.queries`). The seed fixes the op order within each pass; it
never changes which ops run.

`sql_interactive` is a systematic sample of the 79 SQL-text queries of
`plans.SqlSurface` and `plans.ChDialect`: in one traced pass over all 79
on seed-1 tables, sorted by construction share of wall time, every 16th
query from offset 4. Of the samples with a step of 8, 10, 12 or 16 and
any offset, it is the smallest and the one whose layer mix is closest
to the family's: construction is 53% of its traced wall (family: 52%)
and it starts 1.6 jobs per op during construction (family: 1.57, or
124 per pass). `pipeline_batch` and `operators_api` are hand-picked
subsets whose layer mix was not measured against their families.
"""
import random

QUERY_WORKLOADS = {
    # plans.SqlSurface and plans.ChDialect: SQL text through spark.sql
    # and Graft.sql, with DDL that launches jobs while the query is built
    "sql_interactive": [
        "q_sql_retention_keep_last", "q_ch_group_array_sorted", "q_sql_topk_per_group",
        "q_sql_mutation_delete", "q_ch_insert_format",
    ],
    # pipeline.*: dedup, similarity, clustering, text and quality ops,
    # multimodal, mixing and BPE over documents, embeddings and events
    "pipeline_batch": [
        "q_dedup_minhash", "q_sim_topk", "q_quality_score", "q_embed_pca",
        "q_bpe_encode", "q_text_stats", "q_mix_temperature",
    ],
    # operators.*, functions.*, streaming.Shapes and
    # plans.ProjectionQueries through the DataFrame API
    "operators_api": [
        "q_join_hash", "q_agg_rollup", "q_win_lag_lead", "q_agg_percentile",
        "q_str_funcs", "q_stream_tumbling", "q_join_multiway", "q_projection_agg",
    ],
}
WORKLOADS = list(QUERY_WORKLOADS) + ["backup_cycle"]

# Generated table scale: sf 0.01 of the fixture proportions (lineitem
# 60k rows, orders 15k, events 10k, 500 documents and embeddings).
SCALE = 0.01

# backup_cycle: a sliding window of WINDOW_DAYS days of events, each tick
# adding a day and rewriting CHANGED_PER_TICK of the KEEP_DAYS days before
# it; the snapshots keep KEEP_DAYS days behind the newest, so every tick's
# GC deletes, and every incremental backup rewrites the same number of
# days (the new one, the rewritten ones, and the one its base has GC'd).
BACKUP_TICKS = 24
BACKUP_WINDOW_DAYS = 6
BACKUP_KEEP_DAYS = 3
BACKUP_ROWS_PER_DAY = 2000
BACKUP_CHANGED_PER_TICK = 2

# Untimed passes before the timed window, after the set-up's own warm
# pass. The query workloads' passes keep getting faster for several
# passes (the JIT compiling the Spark driver's planning paths); the
# backup ticks are flat after the set-up.
WARM_PASSES = {"sql_interactive": 4, "pipeline_batch": 2, "operators_api": 2,
               "backup_cycle": 0}

ORDERS = 64  # distinct pass orders; pass p uses order p % ORDERS


def pass_orders(names, seed: int, n: int = ORDERS):
    """n seeded permutations of `names`, one per pass."""
    rng = random.Random(f"order:{seed}")
    orders = []
    for _ in range(n):
        order = list(names)
        rng.shuffle(order)
        orders.append(order)
    return orders


def restore_routes(seed: int, n_ticks: int):
    """Per tick, whether the read op restores through SQL-text RESTORE
    ('sql') or through Snapshot.resolve ('api')."""
    rng = random.Random(f"restore:{seed}")
    return [rng.choice(["sql", "api"]) for _ in range(n_ticks)]
