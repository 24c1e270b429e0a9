"""Test helper: a micro-batch DataFrame as the Arrow table the
streaming writers take (`app.run`'s closing path builds the same table
from `pipeline.lookup_projection`)."""

from __future__ import annotations


def collect_batch(batch_df, partition_by: tuple[str, ...] = ()):
    """The batch as one Arrow table on the driver, partition columns
    cast to their string form."""
    if partition_by:
        batch_df = batch_df.withColumns(
            {c: batch_df[c].cast("string") for c in partition_by}
        )
    return batch_df.toArrow()
