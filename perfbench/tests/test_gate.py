import pytest

import inputs
from gate import OracleGate


@pytest.fixture(scope="module")
def gate(tmp_path_factory):
    src = str(tmp_path_factory.mktemp("inputs"))
    inputs.generate(src, 11, 0.001)
    g = OracleGate(src)
    yield g
    g.close()


def _oracle_frame(gate, name):
    from gate import _oracle_sql

    return gate._connect().sql(_oracle_sql(name)).df()


@pytest.mark.parametrize("name", ["tpch_q1", "sales_summary"])
def test_gate_accepts_the_oracle_result(gate, name):
    assert gate.check(name, _oracle_frame(gate, name)).ok


def test_gate_rejects_a_changed_value(gate):
    pdf = _oracle_frame(gate, "tpch_q1")
    col = next(c for c in pdf.columns if pdf[c].dtype.kind == "f")
    pdf.loc[0, col] += 1.0
    c = gate.check("tpch_q1", pdf)
    assert not c.ok
    assert "tpch_q1" in c.detail


def test_gate_rejects_a_missing_row(gate):
    pdf = _oracle_frame(gate, "sales_summary")
    assert len(pdf) > 1
    assert not gate.check("sales_summary", pdf.iloc[1:]).ok


def test_gate_refuses_a_query_without_oracle(gate):
    with pytest.raises(KeyError):
        gate.check("no_such_query", _oracle_frame(gate, "tpch_q1"))
