"""Temperature-scaled mixture weights over per-stratum counts."""

from __future__ import annotations

from typing import Dict


def temperature_weights(totals: Dict[str, int],
                        tau: float) -> Dict[str, float]:
    """Temperature-scaled mixture weights: ``w_s`` proportional to
    ``n_s ** tau``, normalized to sum to 1 — the standard
    multilingual / multi-domain rebalancing rule.  ``tau=1`` keeps
    proportions (no rebalance), ``tau=0`` is uniform across strata,
    ``tau~0.2-0.5`` upsamples the tail without letting a huge stratum
    drown it.

    Driver-side arithmetic over a ``|strata|``-row dict (manifest
    statistics or a tiny per-stratum aggregate) — it never touches
    the data plane.  Zero/negative-count strata are excluded (they
    have nothing to contribute; a uniform share for an empty stratum
    would silently burn budget)."""
    if tau < 0:
        raise ValueError('tau must be >= 0, got %r' % (tau,))
    pos = {s: int(n) for s, n in totals.items() if int(n) > 0}
    if not pos:
        raise ValueError(
            'totals must contain at least one positive count, got %r'
            % (totals,))
    raw = {s: float(n) ** tau for s, n in pos.items()}
    z = sum(raw.values())
    return {s: r / z for s, r in sorted(raw.items())}
