"""Command-line checks of the higher-order-function microbenchmark
(benchkit/hof_scaling.py): it reports the best of ``--trials`` timed
runs, so it must refuse a trial count that times nothing."""

from __future__ import annotations

import pytest

from benchkit.hof_scaling import build_parser


@pytest.mark.parametrize("trials", ["0", "-2"])
def test_trials_below_one_rejected(trials):
    with pytest.raises(SystemExit):
        build_parser().parse_args(["--trials", trials])


def test_trials_default_and_minimum():
    assert build_parser().parse_args([]).trials == 3
    assert build_parser().parse_args(["--trials", "1"]).trials == 1
