"""Temperature-scaled mixture weights (operators/sampling.py)."""


def test_temperature_weights_laws():
    """Pure driver-side math: proportional at tau=1, uniform at
    tau=0, tail upsampled monotonically in between, degenerate
    inputs rejected."""
    from yargy_spark.operators.sampling import temperature_weights
    totals = {'en': 8000, 'zh': 1500, 'de': 500}

    w1 = temperature_weights(totals, 1.0)
    assert abs(w1['en'] - 0.8) < 1e-12 and abs(w1['de'] - 0.05) < 1e-12
    w0 = temperature_weights(totals, 0.0)
    assert all(abs(v - 1 / 3) < 1e-12 for v in w0.values())
    wt = temperature_weights(totals, 0.3)
    assert abs(sum(wt.values()) - 1.0) < 1e-12
    # tail share grows monotonically as tau drops toward uniform
    assert w1['de'] < wt['de'] < w0['de']
    assert w1['en'] > wt['en'] > w0['en']
    # zero-count strata are excluded, not given a uniform share
    assert 'ru' not in temperature_weights(dict(totals, ru=0), 0.5)
    import pytest as _pt
    with _pt.raises(ValueError, match='tau'):
        temperature_weights(totals, -0.1)
    with _pt.raises(ValueError, match='positive'):
        temperature_weights({'en': 0}, 0.5)
