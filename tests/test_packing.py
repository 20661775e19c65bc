"""Rolling context windows (operators/packing.py): frame bounds,
turn order and conversation isolation."""

import pytest

pytestmark = pytest.mark.spark


def test_context_windows_frame_semantics(spark):
    """Rolling context: first turn gets '', the frame holds at most k
    prior turns in turn_idx order, and conversations never leak into
    each other."""
    from yargy_spark.operators.packing import context_windows
    rows = [('a', i, 'user', 't%d' % i) for i in range(5)] + \
           [('b', 0, 'user', 'x0'), ('b', 1, 'user', 'x1')]
    t = spark.createDataFrame(
        rows, 'conv_id string, turn_idx int, role string, text string')
    got = {(r['conv_id'], r['turn_idx']): (r['n_ctx_turns'],
                                           r['context'])
           for r in context_windows(t, k=3).collect()}
    assert got[('a', 0)] == (0, '')
    assert got[('a', 1)] == (1, 't0')
    assert got[('a', 3)] == (3, 't0\nt1\nt2')
    assert got[('a', 4)] == (3, 't1\nt2\nt3')   # k caps the frame
    assert got[('b', 1)] == (1, 'x0')           # no cross-conv leak
