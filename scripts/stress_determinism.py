"""Cross-session-shape determinism stress harness.

Runs each named query under FOUR hostile session configurations
(2 cores/2 shuffle partitions, 200 partitions, aggressive AQE
coalescing, AQE off) x 3 repetitions and asserts ONE value hash per
query. This is the harness that exposed the spark_partition_id
prefix-sum race and the deep when-chain stack overflow that repeated
same-config reruns never caught.

Usage: python scripts/stress_determinism.py [query ...]
(defaults below; ~6 min for 6 queries). Hashes with the driver
simulation's value hash (``driver_sim.valhash``); exits 1 when any
query has more than one hash."""
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
from driver_sim import valhash  # noqa: E402  scripts/driver_sim.py

NAMES = sys.argv[1:] or [
    "pack_training_sequences", "dense_ids_documents",
    "text_repetition_signals", "text_bm25_rank",
    "text_unigram_cross_entropy", "sample_docs_exact_k_weighted",
]
CONFIGS = [
    {"master": "local[2]", "spark.sql.shuffle.partitions": "2"},
    {"master": "local[8]", "spark.sql.shuffle.partitions": "200"},
    {"master": "local[32]", "spark.sql.shuffle.partitions": "7",
     "spark.sql.adaptive.coalescePartitions.minPartitionSize": "1b",
     "spark.sql.adaptive.advisoryPartitionSizeInBytes": "1048576b"},
    {"master": "local[32]", "spark.sql.shuffle.partitions": "64",
     "spark.sql.adaptive.enabled": "false"},
]
from pyspark.sql import SparkSession
hashes = {n: set() for n in NAMES}
for ci, cfg in enumerate(CONFIGS):
    b = SparkSession.builder.appName(f"stress{ci}").master(cfg.pop("master"))
    b = b.config("spark.ui.enabled", "false")
    for k, v in cfg.items(): b = b.config(k, v)
    spark = b.getOrCreate()
    import importlib
    import __spark_entry__ as E
    importlib.reload(E)
    Q = E.queries()
    for n in NAMES:
        for rep in range(3):
            sdf = Q[n](spark, "/root/testdata/sf0.01")
            h = valhash(sdf.columns, [tuple(r) for r in sdf.collect()])
            hashes[n].add(h)
    spark.stop()
    print(f"config {ci} done")
bad = {n: hs for n, hs in hashes.items() if len(hs) != 1}
print("RESULT:", "ALL STABLE" if not bad else f"UNSTABLE: {bad}")
for n, hs in hashes.items(): print(" ", n, hs)
sys.exit(1 if bad else 0)
