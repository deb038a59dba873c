from perfbench.workloads import WORKLOADS, pass_order


def test_every_pass_runs_every_key_exactly_once():
    for keys in WORKLOADS.values():
        for seed in range(20):
            for pass_index in range(4):
                order = pass_order(keys, seed, pass_index)
                assert sorted(order) == sorted(keys)
                assert len(set(order)) == len(keys)


def test_the_seed_fixes_the_order():
    keys = WORKLOADS["headline"]
    assert pass_order(keys, 7, 1) == pass_order(keys, 7, 1)
    orders = {tuple(pass_order(keys, seed, 1)) for seed in range(20)}
    assert len(orders) > 1


def test_workload_keys_are_distinct():
    for keys in WORKLOADS.values():
        assert len(set(keys)) == len(keys)
