"""Broadcast interval index — the one build and one probe grouping that every
``index`` algorithm shares.

Reference: ``IntervalJoinExec`` collects the build side once through a shared
``OnceAsync`` build (``interval_join.rs:596-689``, ``joins/utils.rs:73-107``)
and streams one probe loop over it (``:1421-1641``), whatever the index
algorithm. Here the build side is collected to the driver as Arrow in one
guarded Spark job, grouped by its equi-key tuple, and turned into per-key
numpy arrays by the caller's ``entry`` factory; probes run in ``mapInArrow``
and split each batch into the same key groups with :func:`key_groups`. Key
values on both sides come from Arrow ``as_py()``, so build and probe agree on
the dict key representation whenever :func:`index_keys_ok` holds.
"""

from __future__ import annotations

from typing import Callable, Iterator

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc

from pyspark.sql import DataFrame
from pyspark.sql.types import (
    BinaryType,
    BooleanType,
    ByteType,
    CharType,
    DateType,
    DecimalType,
    IntegerType,
    LongType,
    ShortType,
    StringType,
    TimestampNTZType,
    TimestampType,
    VarcharType,
)

from sequila_native_spark.session import SequilaConf

# Internal bound columns attached by ``interval_join._with_bounds``: the
# build (left) side's normalized int32 bounds, and the probe (right) side's.
_LS, _LE = "__sq_ls", "__sq_le"
_RS, _RE = "__sq_rs", "__sq_re"


class BuildSideTooLargeError(RuntimeError):
    """The build side exceeds ``spark.sequila.maxBroadcastBuildRows``.

    The reference pre-reserves and accounts build memory before collecting
    (``interval_join.rs:624-660``); collecting an unbounded build side to the
    driver would OOM instead. Callers with a distributed equivalent
    (``partitioned`` / ``binning``) auto-fall-back; otherwise this error
    surfaces with the knob to raise."""


# Key type families whose Arrow ``as_py()`` values compare and hash equal
# exactly when Spark's equi-join would match them. Floating point is left
# out: Spark joins NaN to NaN, a Python dict lookup does not.
_KEY_FAMILIES = (
    ((StringType, VarcharType, CharType), "string"),
    ((ByteType, ShortType, IntegerType, LongType), "integral"),
    ((BooleanType,), "boolean"),
    ((DecimalType,), "decimal"),
    ((DateType,), "date"),
    ((TimestampType,), "timestamp"),
    ((TimestampNTZType,), "timestamp_ntz"),
    ((BinaryType,), "binary"),
)


def _key_family(dt) -> str | None:
    for types, family in _KEY_FAMILIES:
        if isinstance(dt, types):
            return family
    return None


def index_keys_ok(
    left: DataFrame, right: DataFrame, l_keys, r_keys
) -> bool:
    """True when every equi-key pair can be matched by the broadcast index:
    both sides in the same type family. Otherwise (an ``int`` key against a
    ``string`` key, say) only Catalyst's coerced comparison matches ``1`` to
    ``'1'``, so the caller must take its distributed path."""
    for k, rk in zip(l_keys, r_keys):
        family = _key_family(left.schema[k].dataType)
        if family is None or family != _key_family(right.schema[rk].dataType):
            return False
    return True


def _valid_rows(batch: pa.RecordBatch, cols) -> np.ndarray:
    """Positions of the rows with a non-null value in every one of ``cols``."""
    ok = np.ones(batch.num_rows, dtype=bool)
    for c in cols:
        col = batch.column(c)
        if col.null_count:
            ok &= pc.is_valid(col).to_numpy(zero_copy_only=False)
    return np.flatnonzero(ok)


def _groups(
    batch: pa.RecordBatch, keys, pos: np.ndarray, *sort_by: np.ndarray
) -> Iterator[tuple[tuple, np.ndarray]]:
    """Group the rows at ``pos`` by their key tuple: dictionary codes per key
    column and one ``lexsort`` (keys first, then ``sort_by`` — arrays aligned
    with ``pos``). Yields ``(key_tuple, positions)``; positions keep batch
    order within a group unless ``sort_by`` orders them."""
    if not pos.size:
        return
    encs = [pc.dictionary_encode(batch.column(k)) for k in keys]
    codes = [
        pc.fill_null(e.indices, -1).to_numpy(zero_copy_only=False)[pos]
        for e in encs
    ]
    sort_keys = (*reversed(sort_by), *reversed(codes))
    order = np.lexsort(sort_keys) if sort_keys else np.arange(len(pos))
    if not codes:
        yield (), pos[order]
        return
    sc = np.stack(codes)[:, order]
    cuts = np.flatnonzero(np.any(sc[:, 1:] != sc[:, :-1], axis=0)) + 1
    bounds = [0, *cuts.tolist(), len(order)]
    dicts = [e.dictionary.to_pylist() for e in encs]
    for lo, hi in zip(bounds[:-1], bounds[1:]):
        key = tuple(d[c[lo]] for d, c in zip(dicts, sc))
        yield key, pos[order[lo:hi]]


def key_groups(
    batch: pa.RecordBatch, keys, bounds: tuple[str, str] = (_RS, _RE)
) -> Iterator[tuple[tuple, np.ndarray]]:
    """Yield ``(key_tuple, positions)`` for the rows of ``batch`` whose keys
    and ``bounds`` are all non-null, one pair per distinct key tuple (the
    single group ``()`` when there are no keys). SQL equality semantics: a
    row with a null key or bound never matches."""
    yield from _groups(batch, keys, _valid_rows(batch, [*keys, *bounds]))


def bounds_of(
    batch: pa.RecordBatch, start: str = _RS, end: str = _RE
) -> tuple[np.ndarray, np.ndarray]:
    """The batch's bound columns as int64 arrays (nulls read as 0; callers
    only index the valid positions :func:`key_groups` yields)."""
    return tuple(
        pc.fill_null(batch.column(c), 0).to_numpy(zero_copy_only=False)
        .astype(np.int64, copy=False)
        for c in (start, end)
    )


def take_build_rows(payload: pa.RecordBatch, idx: np.ndarray) -> pa.RecordBatch:
    """Gather rows of the collected build ``payload`` by position; a ``-1``
    in ``idx`` gives an all-null row (nearest-join null-left padding), with
    every column keeping its Arrow type."""
    return payload.take(pa.array(idx, mask=idx < 0))


def collect_index(
    lb: DataFrame,
    keys,
    entry: Callable[[np.ndarray, np.ndarray, np.ndarray], tuple],
    payload_cols=(),
) -> tuple[dict[tuple, tuple], pa.RecordBatch]:
    """Collect the build side ``lb`` (``keys`` + ``_LS``/``_LE`` +
    ``payload_cols``) and index it per key tuple.

    One Spark job: ``limit(cap + 1).toArrow()`` caps the driver
    materialization at ``spark.sequila.maxBroadcastBuildRows + 1`` rows and
    raises :class:`BuildSideTooLargeError` past the cap (a cap ≤ 0 disables
    the guard). Rows with a null key or bound are dropped; the rest are
    grouped by key tuple and sorted by ``(start, end)`` within each group,
    and ``entry(starts, ends, rows)`` builds each group's index entry from
    its sorted int64 bounds and the positions of those rows in the returned
    payload. Returns ``(index, payload)`` — the payload is one Arrow record
    batch of ``payload_cols`` over the valid rows, for the operators that
    emit build rows (``payload.take(rows)``).
    """
    cols = list(dict.fromkeys([*keys, _LS, _LE, *payload_cols]))
    df = lb.select(*cols)
    cap = SequilaConf.from_spark(lb.sparkSession).max_broadcast_build_rows
    if cap is not None and cap > 0:
        tbl = df.limit(cap + 1).toArrow()
        if tbl.num_rows > cap:
            raise BuildSideTooLargeError(
                f"build side has more than {cap} rows; broadcast-index "
                f"collect would risk a driver OOM. Use algorithm="
                f"'partitioned' or 'binning', or raise "
                f"spark.sequila.maxBroadcastBuildRows."
            )
    else:
        tbl = df.toArrow()
    batch = pa.RecordBatch.from_arrays(
        [c.combine_chunks() for c in tbl.columns], names=tbl.column_names
    )
    valid = _valid_rows(batch, [*keys, _LS, _LE])
    if len(valid) < batch.num_rows:
        batch = batch.take(pa.array(valid))
    starts, ends = bounds_of(batch, _LS, _LE)
    index = {
        key: entry(starts[rows], ends[rows], rows)
        for key, rows in _groups(
            batch, keys, np.arange(batch.num_rows), starts, ends
        )
    }
    return index, batch.select(list(payload_cols))
