"""Size dispatch: the package's only bounded probes.

The reference runs every lab on one machine (pandas, NetworkX, scikit,
esda). At that size the engine's operators run a driver kernel
(Dijkstra, PageRank, union-find, Lloyd, BPE, the LISA pool, ...); past a
row cap the same operator runs as a distributed plan. Every such choice
asks one of the two helpers here, each with the cap named at its call
site (the caps size different row widths).

Both probes are ``limit(cap + 1)``: a LocalLimit stops every scan task
after cap + 1 rows, so a probe never pays a full count and its work is
bounded at any input scale.

Call them through the module (``dispatch.driver_rows(...)``): a test
then forces every distributed branch by patching these two names
(``tests/conftest.py``'s ``force_distributed``). The forced path is a
test seam, not an option.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def driver_rows(df: DataFrame, cap: int):
    """All rows of ``df`` as a ``pyarrow.Table`` when it holds at most
    ``cap`` rows, else None. Arrow moves the rows without building one
    ``Row`` object per row, which costs 1-2 s at a 100k-row cap."""
    tbl = df.limit(cap + 1).toArrow()
    return tbl if tbl.num_rows <= cap else None


def fits(df: DataFrame, cap: int) -> bool:
    """Whether ``df`` holds at most ``cap`` rows, for sites that need
    no rows."""
    return df.limit(cap + 1).count() <= cap


def tuples(tbl) -> list[tuple]:
    """The rows of an Arrow table as Python tuples, in column order."""
    return list(zip(*(col.to_pylist() for col in tbl.columns)))
