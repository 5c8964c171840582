"""The shared ANN kernels (operators/ann.py) driven directly with pandas
batches — no Spark session."""

from __future__ import annotations

import numpy as np
import pandas as pd

from nemscraper_spark.operators.ann import (
    adc_kernel,
    adc_tables,
    assign_kernel,
    encode_kernel,
    lloyd,
    nearest,
    pq_codes,
    train_pq,
)


def _batch(ids, vecs):
    return pd.DataFrame({"vec_id": ids, "e": [np.asarray(v) for v in vecs]})


def _run(kernel, *batches):
    out = list(kernel(iter(batches)))
    return pd.concat(out, ignore_index=True) if out else None


def _codes_batch(ids, cids, codes):
    return pd.DataFrame({"vec_id": ids, "cid": cids, "codes": codes})


def test_nearest_ties_go_to_lower_id():
    C = np.array([[0, 1], [1, 0], [1, 0], [0, 1]])
    X = np.array([[2, 0], [0, 3], [1, 1]])
    assert nearest(X, C, 2).tolist() == [[1, 2], [0, 3], [0, 1]]
    assert nearest(X.astype(float), C.astype(float), 1).tolist() == [[1], [0], [0]]


def test_pq_codes_ties_go_to_lower_code():
    books = np.array([[[1, 0], [-1, 0], [0, 0]]])  # M=1, K=3, sub=2
    X = np.array([[0, 0], [0, 1], [1, 0]])
    assert pq_codes(X, books)[:, 0].tolist() == [2, 2, 0]
    # [0, 5] is equidistant from [1, 0] and [-1, 0]
    assert pq_codes(np.array([[0, 5]]), books[:, :2])[:, 0].tolist() == [0]


def test_lloyd_floors_integer_means_and_keeps_empty_centres():
    X = np.array([[3, 0], [0, 1], [4, 0], [0, 2], [0, 2]])
    C = lloyd(X, 2, rounds=1)
    assert C.dtype == np.int64
    assert C.tolist() == [[3, 0], [0, 1]]  # floor(7/2) = 3, floor(5/3) = 1
    assert lloyd(X.astype(float), 2, rounds=1).tolist() == [[3.5, 0], [0, 5 / 3]]
    # an assignment that leaves centre 1 empty keeps its seed
    C = lloyd(X, 2, 1, assign=lambda X_, C_: np.zeros(len(X_), dtype=int))
    assert C.tolist() == [[1, 1], [0, 1]]


def test_assign_kernel():
    C = np.array([[1.0, 0.0], [0.0, 1.0], [1.0, 0.0]])
    got = _run(assign_kernel(C), _batch([7, 8], [[5, 5], [0, 2]]), _batch([], []))
    assert got[["vec_id", "cid", "cid2"]].values.tolist() == [[7, 0, 1], [8, 1, 0]]
    assert [list(v) for v in got["e"]] == [[5, 5], [0, 2]]
    assert _run(assign_kernel(C), _batch([], [])) is None
    # integer and float centroids give the same assignment
    gi = _run(assign_kernel(C.astype(np.int64)), _batch([7, 8], [[5, 5], [0, 2]]))
    assert gi[["cid", "cid2"]].equals(got[["cid", "cid2"]])


def test_encode_kernel_int_and_float_agree():
    rng = np.random.default_rng(7)
    X = rng.integers(-50, 50, size=(40, 8))
    books = train_pq(X, 2, 4, rounds=2)
    coarse = lloyd(X, 3, rounds=2)
    b = _batch(list(range(40)), X)
    for kw in ({}, {"coarse": coarse}):
        gi = _run(encode_kernel(books, **kw), b)
        fkw = {k: v.astype(float) for k, v in kw.items()}
        gf = _run(encode_kernel(books.astype(float), **fkw), b)
        assert gi["vec_id"].tolist() == list(range(40))
        assert gi["cid"].tolist() == gf["cid"].tolist()
        assert gi["codes"].tolist() == gf["codes"].tolist()
    flat = _run(encode_kernel(books), b)
    assert set(flat["cid"]) == {0}
    assert flat["codes"].tolist() == pq_codes(X, books).tolist()
    assert _run(encode_kernel(books), _batch([], [])) is None


def test_encode_kernel_l2_normalizes():
    books = np.array([[[1.0], [0.5], [0.0]]])  # M=1, K=3, sub=1
    got = _run(encode_kernel(books, l2=True), _batch([1, 2], [[3.0], [0.2]]))
    assert got["codes"].tolist() == [[0], [0]]
    raw = _run(encode_kernel(books), _batch([1, 2], [[3.0], [0.2]]))
    assert raw["codes"].tolist() == [[0], [2]]


def test_adc_tables_keyed_by_vec_id_and_probe():
    books = np.array([[[0, 0], [2, 0]], [[0, 0], [0, 2]]])  # M=2, K=2, sub=2
    coarse = np.array([[1, 0, 0, 0], [0, 0, 0, 1], [0, 0, 1, 0]])
    q = {5: np.array([2, 0, 0, 0]), 9: np.array([0, 0, 0, 2])}
    flat = adc_tables(q, books)
    assert sorted(flat) == [(5, 0), (9, 0)]
    assert flat[(5, 0)].tolist() == [[4, 0], [0, 4]]
    # nprobe = 2: the nearest list, then the tie between lists 1 and 2
    # (resp. 0 and 2) goes to the lower id
    ivf = adc_tables(q, books, coarse=coarse)
    assert sorted(ivf) == [(5, 0), (5, 1), (9, 0), (9, 1)]
    assert ivf[(5, 0)].tolist() == [[1, 1], [0, 4]]  # residual [1, 0, 0, 0]
    assert ivf[(9, 1)].tolist() == [[0, 4], [1, 1]]  # residual [0, 0, 0, 1]


def test_adc_kernel_probe_filter_and_self_exclusion():
    t = np.array([[0, 10], [0, 100]])  # M=2, K=2
    tables = {(1, 0): t, (2, 1): t}
    b = _codes_batch([1, 2, 3, 4], [0, 0, 1, 1], [[0, 0], [1, 0], [0, 1], [1, 1]])
    got = _run(adc_kernel(tables), b)
    rows = sorted(map(tuple, got.values.tolist()))
    # query 1 sees only list 0 minus itself; query 2 only list 1
    assert rows == [(1, 2, 10), (2, 3, 100), (2, 4, 110)]
    assert got["adc_dist"].dtype == np.int64
    # a batch with no member of any probed list yields nothing
    assert _run(adc_kernel({(1, 5): t}), b) is None
    assert _run(adc_kernel(tables), _codes_batch([], [], [])) is None
    gf = _run(adc_kernel({(9, 0): np.array([[0.1234567891234, 0.0]])}),
              _codes_batch([1], [0], [[0]]))
    assert gf["adc_dist"].tolist() == [0.123456789]


def test_kernels_run_without_the_package(tmp_path):
    """cloudpickle ships each kernel BY VALUE: unpickled where
    ``nemscraper_spark`` cannot be imported, it yields the same frame."""
    import pickle
    import subprocess
    import sys

    from pyspark import cloudpickle

    rng = np.random.default_rng(3)
    X = rng.integers(-20, 20, size=(30, 8))
    coarse = lloyd(X, 3, rounds=2)
    books = train_pq(X, 2, 4, rounds=2, coarse=coarse)
    tables = adc_tables({0: X[0], 1: X[1]}, books, coarse=coarse)
    b = _batch(list(range(30)), X)
    enc = _run(encode_kernel(books, coarse), b)
    cases = [
        (assign_kernel(coarse), b),
        (encode_kernel(books, coarse), b),
        (adc_kernel(tables), enc),
    ]
    for i, (kernel, batch) in enumerate(cases):
        (tmp_path / f"k{i}.pkl").write_bytes(cloudpickle.dumps((kernel, batch)))
        script = (
            "import pickle, sys\n"
            "sys.modules['nemscraper_spark'] = None\n"
            f"kernel, batch = pickle.load(open({str(tmp_path / f'k{i}.pkl')!r}, 'rb'))\n"
            "import pandas as pd\n"
            "out = pd.concat(list(kernel(iter([batch]))), ignore_index=True)\n"
            "sys.stdout.buffer.write(pickle.dumps(out))\n"
        )
        res = subprocess.run(
            [sys.executable, "-c", script], capture_output=True, cwd=tmp_path
        )
        assert res.returncode == 0, res.stderr.decode()
        got = pickle.loads(res.stdout)
        pd.testing.assert_frame_equal(got, _run(kernel, batch))
