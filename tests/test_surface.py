"""Pins on the package's callable surface: the module attributes the
benchmark's trace mode wraps by name, and tuning options that were
folded into constants."""

import pytest

from parquet_merger_spark.operators.dedup import (
    containment_pairs,
    dup_clusters,
    minhash_lsh_pairs,
    ngram_jaccard_pairs,
    simhash_near_dup_pairs,
    write_gram_index,
)
from parquet_merger_spark.operators.graph import pagerank_int, triangle_count
from parquet_merger_spark.operators.sampling import cap_per_group
from parquet_merger_spark.partitioning import fan_out, scaled_partitions
from parquet_merger_spark.sources.catalog import probe_schemas


def test_trace_mode_wraps_and_restores_every_attribute(spark):
    """``perfbench/run.py --trace 1`` wraps module attributes by name; a
    renamed or removed one makes ``install`` raise here, not mid-run."""
    from perfbench.tracing import Tracer

    tracer = Tracer(spark)
    try:
        tracer.install()
        patched = [(owner, attr) for owner, attr, _ in tracer._patches]
        originals = [value for _, _, value in tracer._patches]
        assert patched
        for owner, attr in patched:
            assert hasattr(getattr(owner, attr), "__wrapped__"), (owner, attr)
    finally:
        tracer.restore()
    assert [getattr(owner, attr) for owner, attr in patched] == originals


@pytest.mark.parametrize(
    "fn,args,option",
    [
        (dup_clusters, (None,), "checks_every"),
        (pagerank_int, (None,), "broadcast_ranks"),
        (write_gram_index, (None, ""), "num_partitions"),
        (minhash_lsh_pairs, (None,), "storage_level"),
        (ngram_jaccard_pairs, (None,), "storage_level"),
        (simhash_near_dup_pairs, (None,), "storage_level"),
        (containment_pairs, (None,), "storage_level"),
        (fan_out, (None,), "min_parallelism"),
        (scaled_partitions, (None,), "min_partitions"),
        (probe_schemas, (None, []), "max_workers"),
        (triangle_count, (None,), "broadcast_edge_limit"),
        (cap_per_group, (None, "g", 1), "n_salts"),
    ],
)
def test_folded_tuning_options_are_rejected(fn, args, option):
    with pytest.raises(TypeError, match=option):
        fn(*args, **{option: 1})
