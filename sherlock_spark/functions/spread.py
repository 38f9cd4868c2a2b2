"""Scan-parallelism floor for compute-bound row-local stages.

The benchmark corpora arrive as ONE parquet file per table with a
single row group (documents/embeddings: ~6 MB), so a Spark scan yields
at most one NON-EMPTY task no matter how `maxPartitionBytes` /
`minPartitionNum` split the byte ranges — row groups are the atomic
split unit. Any heavy row-local work chained onto such a scan
(shingling, 32-hash MinHash signatures, hyperplane dot products, media
decode) then runs on ONE core: measured 20 s for the sf1 MinHash
signature build on local[32], ~0.6 s after spreading.

``spread`` repartitions ONLY when the optimizer's size estimate of the
input is below ``defaultParallelism x 16 MB``, so it is inert at scale
(a 100-TB table, or any input of unknown size, passes through
untouched) and costs one small shuffle (~the table's bytes) exactly
when the alternative is serializing the whole stage on one core. This
is the same principle as ``_transcripts``' explicit repartition in
queries.py: partition by COMPUTE, not by bytes.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


# a scan smaller than parallelism x this many bytes cannot usefully
# fill the cluster even at modest split sizes, so the repartition it
# gets costs at most parallelism x 16 MB of shuffle — trivial next to
# the serialized stage it prevents
_SMALL_INPUT_BYTES_PER_SLOT = 16 * 1024 * 1024


def spread(df: DataFrame) -> DataFrame:
    """Round-robin repartition to ``defaultParallelism`` when (and only
    when) the input is too small to parallelize as a scan. Use
    immediately before compute-heavy row-local stages fed by small
    scans.

    The decision reads the optimizer's size estimate
    (``optimizedPlan().stats().sizeInBytes``) rather than
    ``df.rdd.getNumPartitions()``: building the RDD compiles the
    physical plan (janino) on every call — measured in the hundreds of
    ms per query construction — while the stats lookup is a few ms and
    errs the right way (unknown sizes report huge, so big inputs are
    never shuffled)."""
    target = df.sparkSession.sparkContext.defaultParallelism
    try:
        raw = df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()
        # py4j maps scala.math.BigInt to int on this stack; older
        # bridges hand back the JVM object, whose str() is the digits
        size = raw if isinstance(raw, int) else int(str(raw))
    except Exception:
        return df
    if size < target * _SMALL_INPUT_BYTES_PER_SLOT:
        return df.repartition(target)
    return df
