"""Live correctness checks and the exact, tie-aware rank oracle.

Every check runs after the clock stops.  A check that fails counts as a
failed operation in the result line, and `correct` turns false.
"""

from __future__ import annotations

import numpy as np

from common import log


def rank_distance(sorted_vals: np.ndarray, probes, fracs) -> np.ndarray:
    """Distance of each claimed rank fraction from the exact interval
    [#(x < v), #(x <= v)] / n of its probe value v.

    For a quantile estimate v at level q, pass probes=v, fracs=q; for a
    cdf estimate p at value x, pass probes=x, fracs=p.  Ties are handled
    by the interval: any fraction inside it is exact."""
    probes = np.asarray(probes, dtype=np.float64)
    fracs = np.asarray(fracs, dtype=np.float64)
    n = float(sorted_vals.size)
    lo = np.searchsorted(sorted_vals, probes, side="left") / n
    hi = np.searchsorted(sorted_vals, probes, side="right") / n
    return np.maximum(0.0, np.maximum(lo - fracs, fracs - hi))


class Checks:
    """Tally of checks made, checks failed and rank-error distances."""

    def __init__(self) -> None:
        self.attempted = 0
        self.failed = 0
        #: sketch kind -> rank-error distances, one array per sketch
        self.errors: dict[str, list[np.ndarray]] = {}

    def check(self, ok, what: str) -> bool:
        self.attempted += 1
        if not ok:
            self.failed += 1
            if self.failed <= 20:
                log(f"check failed: {what}")
        return bool(ok)

    def rank(self, *dists: np.ndarray, kind: str = "tdigest") -> None:
        """Record the rank-error distances of one sketch's estimates, in
        the tally of its kind (t-digest or KLL).  They are reported as
        rank_err_max/rms next to the O(1/delta) bound, not gated here: on
        log-uniform inputs the t-digest exceeds that bound (see DESIGN.md),
        and the end-to-end bound on rank_err_* catches a change that makes
        it worse."""
        self.errors.setdefault(kind, []).append(
            np.concatenate([np.ravel(d) for d in dists]).astype(np.float64))

    def digest(self, d, sorted_vals: np.ndarray, what: str) -> None:
        """The reference contract on one merged t-digest against the
        exact sorted values of its group: weights, total weight, q=0/1
        exactness and monotone quantiles."""
        try:
            ok = d.check_weights()
        except AssertionError as exc:
            ok = False
            what = f"{what} ({exc})"
        self.check(ok, f"{what}: check_weights")
        self.check(
            d.total_weight == sorted_vals.size,
            f"{what}: total weight {d.total_weight} != {sorted_vals.size}",
        )
        self.check(
            d.quantile(0.0) == sorted_vals[0] and d.quantile(1.0) == sorted_vals[-1],
            f"{what}: q=0/1 are not the exact min/max",
        )
        qs = d.quantiles(np.linspace(0.0, 1.0, 101))
        self.check(bool(np.all(np.diff(qs) >= 0)), f"{what}: quantiles decrease")

    @property
    def correct(self) -> bool:
        return self.failed == 0

    def rank_err(self, kind: str = "tdigest") -> tuple[float, float]:
        """Over the sketches of one kind: (mean of each sketch's largest
        distance, RMS over every distance); and the single largest
        distance, for the log."""
        errors = [e for e in self.errors.get(kind, []) if e.size]
        if not errors:
            return 0.0, 0.0
        allv = np.concatenate(errors)
        worst = [float(e.max()) for e in errors]
        log(f"{kind} rank error: largest {max(worst):.5f} over {len(worst)} sketches")
        return float(np.mean(worst)), float(np.sqrt(np.mean(allv * allv)))
