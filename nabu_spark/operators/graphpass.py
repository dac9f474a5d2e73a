"""Per-graph Arrow passes: the release writers stream each release graph
to its file, and the SHACL and canonical-quads operators evaluate each
document graph, through one run grouper over batches sorted by key."""

from __future__ import annotations

import itertools

import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import StructType

# rows per output batch: the default of spark.sql.execution.arrow.maxRecordsPerBatch
_OUT_ROWS = 10_000


def runs(batches):
    """``(key, parts)`` per run of equal keys in record batches sorted by
    their first column; ``parts`` iterates the run's zero-copy slices, one
    per batch it spans. A null key is a run like any other; the run
    boundaries come from Arrow."""
    def slices():
        for batch in batches:
            ends = pc.run_end_encode(batch.column(0))
            start = 0
            for key, end in zip(ends.values.to_pylist(), ends.run_ends.to_pylist()):
                yield key, batch.slice(start, end - start)
                start = end

    for key, run in itertools.groupby(slices(), key=lambda part: part[0]):
        yield key, (part for _, part in run)


def map_graphs(quads: DataFrame, per_graph, schema: StructType) -> DataFrame:
    """Call ``per_graph(prov, triples) -> list[dict]`` once per document
    graph, the null-prov default graph included, in one ``mapInArrow``
    pass. The only shuffle co-locates each prov, and the sort makes every
    graph one run within its partition, whichever Arrow batches it spans.
    The rows come back as ``schema``, about ``_OUT_ROWS`` per batch."""
    arrow_schema = to_arrow_schema(schema)

    def graphs(batches):
        rows: list[dict] = []
        for prov, parts in runs(batches):
            rows.extend(per_graph(prov, [
                t for part in parts
                for t in zip(*(part.column(i).to_pylist() for i in (1, 2, 3)))]))
            if len(rows) >= _OUT_ROWS:
                yield pa.RecordBatch.from_pylist(rows, schema=arrow_schema)
                rows = []
        if rows:
            yield pa.RecordBatch.from_pylist(rows, schema=arrow_schema)

    return (
        quads.select("prov", "subj", "pred", "obj")
        .repartition("prov")
        .sortWithinPartitions("prov")
        .mapInArrow(graphs, schema)
    )
