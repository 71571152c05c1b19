"""Key offsetting in the sf1 replicator must fail loudly on overflow.

A wrapped id would collide with another copy's key range, and the
"copies never cross-join" invariant would break without an error.
"""

import pyarrow as pa
import pytest

from tools.gen_scale_data import offset_keys


def test_offset_keys_shifts_ids_and_keeps_nulls():
    col = pa.chunked_array([pa.array([7, None], pa.int32())])
    assert offset_keys(col, 1000).to_pylist() == [1007, None]


def test_offset_keys_raises_on_int32_overflow():
    col = pa.chunked_array([pa.array([1, 2**31 - 10], pa.int32())])
    with pytest.raises(pa.ArrowInvalid, match="overflow"):
        offset_keys(col, 100)
