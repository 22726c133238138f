"""The package's one Python UDF shell: a per-row kernel run over Arrow
batches.

Every Python UDF of the package (the fused decide scorer, scrub, language
ID, compression ratio, perplexity, keyword match, the Bloom twin, BPE
segmentation) is a kernel factory handed to :func:`row_udf`.  The shell
owns how values cross the Python boundary, so that decision lives here
once (*Accelerating Python UDFs in Vectorized Query Execution*, CIDR
2022: the per-value conversion at that boundary is the cost to cut):

* values come in as plain Python objects through ``pa.Array.to_pylist``
  (ints stay ints and NULL is ``None``, where a pandas batch widens a
  nullable integer column to ``float64``); a string batch holding
  invalid UTF-8 is decoded with U+FFFD replacements instead (see
  :func:`_values`);
* results go out as one ``pa.array`` of the declared Arrow type; pyarrow
  builds struct results from tuples and map fields from dicts directly,
  with no pandas frame in between.

Per-task state follows the iterator-UDF lifecycle of reference
``examples/pii_detection_presidio.py:94-128``: ``make_kernel()`` runs once
per task (compiled rules, ``bcast.value``) and returns ``one(value)``.
"""

from __future__ import annotations

from typing import Any, Callable, Iterator

import pyarrow as pa
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.pandas.types import to_arrow_type


def _values(arr: pa.Array) -> list:
    """``arr`` as Python values.  Spark strings are bytes that nothing
    validates: a parquet file written as binary and read as ``string``
    delivers them as they are, so a batch can hold invalid UTF-8 (a lone
    surrogate, say, in its CESU-8/WTF-8 form ``ed a0 80``; Arrow cannot
    encode a ``str`` holding one, so this is the only way one reaches a
    UDF).  Such a batch is decoded from its bytes with
    ``errors="replace"``, which turns each invalid sequence into U+FFFD
    (``ed a0 80`` into three), so one bad row does not fail its task;
    valid batches take the fast path."""
    try:
        return arr.to_pylist()
    except UnicodeDecodeError:
        return [None if b is None else b.decode("utf-8", errors="replace")
                for b in arr.cast(pa.binary()).to_pylist()]


def row_udf(make_kernel: Callable[[], Callable[[Any], Any]],
            return_type: T.DataType):
    """Scalar-iterator Arrow UDF of one column: ``make_kernel()`` is
    called once per task and its ``one(value)`` maps each input value
    (``None`` for NULL, U+FFFD in place of invalid UTF-8) to a
    result of ``return_type``."""
    arrow_type = to_arrow_type(return_type)

    def batches(it: Iterator[pa.Array]) -> Iterator[pa.Array]:
        one = make_kernel()
        for arr in it:
            yield pa.array([one(v) for v in _values(arr)],
                           type=arrow_type)

    return F.arrow_udf(batches, return_type)
