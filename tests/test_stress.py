"""The stress harness's copy-dataset builder (``scripts/stress.py``):
every copy keeps its base row apart from the documented perturbation."""

from __future__ import annotations

import importlib.util
import pathlib
import sys

import numpy as np

_SCRIPT = pathlib.Path(__file__).resolve().parent.parent / "scripts" / "stress.py"


def load_stress():
    """``scripts/stress.py`` as a module (importing it starts no Spark)."""
    if "stress" not in sys.modules:
        spec = importlib.util.spec_from_file_location("stress", _SCRIPT)
        module = importlib.util.module_from_spec(spec)
        sys.modules["stress"] = module
        spec.loader.exec_module(module)
    return sys.modules["stress"]


def test_build_copies_perturbs_only_the_documented_column(spark, sf_small, tmp_path):
    stress = load_stress()
    copies = 3
    # table -> (id column, expected value of the perturbed column in copy c)
    expected = {
        "documents": ("doc_id", "text", lambda v, c: f"{v} v{c}"),
        "embeddings": ("vec_id", "embedding", lambda v, c: [
            float(np.float32(v[0] + c / 1000.0)), *v[1:]]),
        "customer": ("c_custkey", "c_name", lambda v, c: f"{v}{chr(96 + c)}"),
        "orders": ("o_orderkey", None, None),
    }
    stress.build_copies(spark, sf_small, copies, str(tmp_path), tuple(expected), 2)
    for table, (id_col, col, copy_value) in expected.items():
        base = {r[id_col]: r.asDict() for r in spark.read.parquet(
            f"{sf_small}/{table}.parquet").collect()}
        out = spark.read.parquet(f"{tmp_path}/{table}.parquet").collect()
        assert len(out) == copies * len(base), table
        assert len({r[id_col] for r in out}) == len(out), table
        stride = copies * len(base)
        for r in out:
            c, row = divmod(r[id_col], stride)
            want = dict(base[row], **{id_col: r[id_col]})
            if col and c > 0:
                want[col] = copy_value(base[row][col], c)
            assert r.asDict() == want, (table, r[id_col])
