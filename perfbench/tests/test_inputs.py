import os

import pyarrow.parquet as pq

import inputs


def _tables(d):
    return {n: pq.read_table(os.path.join(d, n)) for n in sorted(os.listdir(d))}


def test_same_seed_same_inputs(tmp_path):
    a, b = str(tmp_path / "a"), str(tmp_path / "b")
    assert inputs.generate(a, 7, 0.001) == inputs.generate(b, 7, 0.001)
    ta, tb = _tables(a), _tables(b)
    assert ta.keys() == tb.keys()
    assert all(ta[n].equals(tb[n]) for n in ta)


def test_other_seed_other_values_same_sizes(tmp_path):
    a, b = str(tmp_path / "a"), str(tmp_path / "b")
    assert inputs.generate(a, 7, 0.001) == inputs.generate(b, 8, 0.001)
    assert not _tables(a)["lineitem.parquet"].equals(_tables(b)["lineitem.parquet"])


def test_delta_is_seeded(tmp_path):
    src = str(tmp_path / "src")
    inputs.generate(src, 7, 0.001)
    d1 = inputs.write_medallion_delta(src, str(tmp_path / "d1"), 7)
    d1_again = inputs.write_medallion_delta(src, str(tmp_path / "d1_again"), 7)
    d2 = inputs.write_medallion_delta(src, str(tmp_path / "d2"), 8)
    assert d1 == d1_again
    assert d1.changed_parts != d2.changed_parts
    assert d1.n_new_events == d2.n_new_events > 0
    assert _tables(str(tmp_path / "d1"))["events.parquet"].equals(
        _tables(str(tmp_path / "d1_again"))["events.parquet"]
    )
    assert not _tables(str(tmp_path / "d1"))["events.parquet"].equals(
        _tables(str(tmp_path / "d2"))["events.parquet"]
    )


def test_delta_changes_exactly_the_chosen_parts_and_appends_past_the_watermark(tmp_path):
    src, dst = str(tmp_path / "src"), str(tmp_path / "dst")
    inputs.generate(src, 3, 0.001)
    d = inputs.write_medallion_delta(src, dst, 3)
    old = pq.read_table(f"{src}/part.parquet").column("p_retailprice").to_pylist()
    new = pq.read_table(f"{dst}/part.parquet").column("p_retailprice").to_pylist()
    assert tuple(i for i, (a, b) in enumerate(zip(old, new)) if a != b) == d.changed_parts
    ev_old = pq.read_table(f"{src}/events.parquet")
    ev_new = pq.read_table(f"{dst}/events.parquet")
    assert ev_new.num_rows == d.n_events + d.n_new_events
    fresh = ev_new.slice(d.n_events).column("ts").to_pylist()
    assert min(fresh) > max(ev_old.column("ts").to_pylist())
