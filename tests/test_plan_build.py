"""What building a plan costs on the driver: origin capture is off in a
`get_spark` session, each query of perfbench's query_mix builds its plan
in a bounded number of JVM calls, and the SQL-string hyperplane bits equal
the Column-built ones."""

import importlib.util
import random
from pathlib import Path

import pytest
from pyspark.sql import functions as F

from pytorch_ie_spark.operators.similarity import hyperplane_signature_cols, hyperplane_weight
from pytorch_ie_spark.queries import QUERIES

_SCRIPT = Path(__file__).resolve().parent.parent / "scripts" / "bench_plan_build.py"
_spec = importlib.util.spec_from_file_location("bench_plan_build", _SCRIPT)
bench_plan_build = importlib.util.module_from_spec(_spec)
_spec.loader.exec_module(bench_plan_build)

#: py4j JavaMember calls one warm build of each query_mix entry may make at
#: sf0.001 (measured with scripts/bench_plan_build.py, plus ~10% headroom)
PLAN_BUILD_CALLS = {
    "dedup_minhash_pairs": 200,  # measured 182
    "embedding_near_dups": 235,  # 212
    "kg_coref_pairs": 405,  # 369
    "kg_re_windows": 260,  # 234
    "kg_graph_degrees": 160,  # 142
}


def test_session_captures_no_origin(spark):
    from pyspark.errors.utils import is_debugging_enabled

    assert spark.conf.get("spark.python.sql.dataFrameDebugging.enabled") == "false"
    assert not is_debugging_enabled()


@pytest.mark.parametrize("name", sorted(PLAN_BUILD_CALLS))
def test_query_mix_plan_build_calls(spark, sf_dir, name):
    build = QUERIES[name][0]
    build(spark, sf_dir)  # warm: schema inference and first-use lookups
    with bench_plan_build.py4j_counts() as counts:
        build(spark, sf_dir)
    assert counts["calls"] <= PLAN_BUILD_CALLS[name], counts


def _reference_bits(vec, num_planes, dim):
    """The Column-built signature the SQL strings replace."""

    def weights_col(p):
        if dim is not None:
            return F.array(*[F.lit(hyperplane_weight(p, i)) for i in range(dim)])
        return F.transform(
            F.sequence(F.lit(0), F.size(vec) - 1),
            lambda i: F.when(
                F.substring(F.md5(F.concat(F.lit(f"{p}|"), i.cast("string"))), 1, 1) >= "8",
                F.lit(1.0),
            ).otherwise(F.lit(-1.0)),
        )

    def plane_bit(p):
        proj = F.aggregate(
            F.zip_with(vec, weights_col(p), lambda x, w: F.round(x * w * 1000000.0, 0).cast("long")),
            F.lit(0).cast("long"),
            lambda acc, v: acc + v,
        )
        return F.when(proj > 0, F.lit(1)).otherwise(F.lit(0)).alias(f"bit{p}")

    return [plane_bit(p) for p in range(num_planes)]


def _vectors(dim, planes):
    rng = random.Random(13)
    vs = [[rng.gauss(0, 1) for _ in range(dim)] for _ in range(20)]
    vs.append([0.0] * dim)
    # every term rounds to 0, or sits near the rounding midpoint
    vs += [[rng.uniform(-4.9e-7, 4.9e-7) for _ in range(dim)] for _ in range(3)]
    vs += [[rng.choice((-5e-7, 5e-7)) for _ in range(dim)] for _ in range(3)]
    for p in range(planes):
        w = [hyperplane_weight(p, i) for i in range(dim)]
        # projection on plane p exactly 0, +1 and -1 quantized units
        half = [1e-6 * w[i] * (1 if i < dim // 2 else -1) for i in range(dim)]
        vs.append(half)
        vs.append(half[:-1] + [half[-1] + 1e-6 * w[-1]])
        vs.append(half[:-1] + [half[-1] - 1e-6 * w[-1]])
    return vs


@pytest.mark.parametrize("dim", [64, None])
def test_hyperplane_bits_equal_column_reference(spark, dim):
    vs = _vectors(64, 8)
    df = spark.createDataFrame([(i, v) for i, v in enumerate(vs)], "id long, vec array<double>")
    got = df.select("id", *hyperplane_signature_cols("vec", 8, dim=dim)).orderBy("id").collect()
    want = df.select("id", *_reference_bits(F.col("vec"), 8, dim)).orderBy("id").collect()
    assert got == want
    assert got[0].__fields__ == ["id"] + [f"bit{p}" for p in range(8)]
    # the near-zero rows really straddle the sign: both bit values occur
    assert {r["bit0"] for r in got[len(vs) - 24 :]} == {0, 1}
