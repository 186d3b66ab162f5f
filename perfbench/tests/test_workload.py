import pytest

from perfbench.workload import SPECS


@pytest.mark.parametrize("name", sorted(SPECS))
def test_schedule_keeps_the_batch_checks_valid(name):
    spec = SPECS[name]
    walk = spec.warmup + spec.cycle + spec.cycle
    # a batch asks for the last deleted document: deletes come first
    assert "delete" not in spec.cycle or spec.cycle[0] == "delete"
    assert "delete" not in spec.warmup
    assert "batch" in walk
    for i, slot in enumerate(walk):
        if slot == "batch":
            prev = walk[i - 1]
            assert isinstance(prev, tuple) and prev[1] == spec.batch_mode


@pytest.mark.parametrize("name", sorted(SPECS))
def test_warmup_searches_every_mode_the_window_times(name):
    spec = SPECS[name]
    timed = {slot[1] for slot in spec.cycle if isinstance(slot, tuple)}
    assert timed <= {slot[1] for slot in spec.warmup if isinstance(slot, tuple)}


def test_workloads_take_opposite_kernel_paths():
    assert SPECS["distributed"].prefer_local is False
    assert SPECS["live"].prefer_local is True
    # phrase queries need positions; only the positions index gets them
    for spec in SPECS.values():
        assert ("phrase" in spec.kinds) <= spec.positions
