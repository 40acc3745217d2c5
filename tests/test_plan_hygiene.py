"""Fleet-wide physical-plan hygiene sweep: EVERY registered query's plan
is compiled (not executed) and held to the global invariants that decide
whether it survives a 100 TB cluster:

- no CartesianProduct — an O(n·m) join is always a plan bug; pairwise
  operators must bound one side (broadcast, LSH bucket, block key);
- no row-at-a-time Python UDF (BatchEvalPython) — Python in the hot
  path must cross the JVM boundary through Arrow (ArrowEvalPython /
  FlatMapGroupsInPandas / ArrowEvalPythonUDTF) or not at all.

Per-query contracts live in test_plans.py; this sweep is the backstop
that catches a regression in any query nobody wrote a contract for.
Queries with eager side effects (format round-trip writes, bucketed
table writes, streaming drains) are skipped here — each has its own
oracle/contract coverage — because building their DataFrame runs the
side effect, and this sweep must stay compile-only.
"""

from __future__ import annotations

import pytest

import __spark_entry__ as entrymod
from .conftest import SF_DIR

QUERIES = entrymod.queries()

# eager side effects on build (writes / stream drains): covered elsewhere
_SKIP_PREFIXES = ("streaming_", "src_", "sink_", "join_bucketed")


def _sweep_names():
    return sorted(n for n in QUERIES if not n.startswith(_SKIP_PREFIXES))


@pytest.mark.parametrize("name", _sweep_names())
def test_plan_hygiene(spark, name):
    plan = QUERIES[name](spark, SF_DIR)._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan, f"{name}: cartesian product"
    # row-at-a-time Python is banned; Arrow-vectorized Python is allowed
    assert "BatchEvalPython" not in plan, f"{name}: row-at-a-time Python UDF"


# Exact `percentile` over a CONTINUOUS column buffers a value->count map
# ~ O(rows) on one reducer — a 100 TB memory cliff (VERDICT r6 #4). The
# mergeable path is functions/sketch.py's approx_pctl, whose accuracy
# pin keeps every oracle exact at fixture scale. The only legitimate
# exact-percentile sites are BOUNDED-INTEGER domains, where the
# value->count state is bounded by the domain, not the row count; each
# must argue that bound in its docstring.
_EXACT_PCTL_ALLOWED = {
    "plans/insight_ops.py",  # days_to_ship: ~100 distinct day gaps
    "plans/agreement_ops.py",  # doubled l_quantity: ~100 distinct values
}


def test_no_exact_percentile_on_continuous_columns():
    import pathlib
    import re

    import sow_pyspark_scripts_spark as pkg

    root = pathlib.Path(pkg.__file__).parent
    # matches F.percentile( and expr("percentile(...")); approx_percentile /
    # percentile_approx have no word boundary before "percentile", so the
    # sketch forms never match.
    pat = re.compile(r"\bpercentile\s*\(")
    offenders = []
    for py in sorted(root.rglob("*.py")):
        rel = py.relative_to(root).as_posix()
        if rel in _EXACT_PCTL_ALLOWED:
            continue
        for i, line in enumerate(py.read_text().splitlines(), start=1):
            if pat.search(line):
                offenders.append(f"{rel}:{i}: {line.strip()}")
    assert not offenders, (
        "exact percentile outside the bounded-domain whitelist "
        "(use functions.sketch.approx_pctl):\n" + "\n".join(offenders)
    )


def test_no_hand_written_6dp_rounding():
    """The 6-dp rounding rule floor(x*1e6 + 0.5) has one Column-API
    spelling, functions.det.r6 / quant; a copy in plans/ or operators/
    could drift from the oracles' SQL. Parsed, not grepped, so a copy
    split over several lines is caught too."""
    import ast
    import pathlib

    import sow_pyspark_scripts_spark as pkg

    def num(node, value):
        if isinstance(node, ast.Call) and getattr(node.func, "attr", None) == "lit":
            node = node.args[0] if len(node.args) == 1 else None
        return (
            isinstance(node, ast.Constant)
            and type(node.value) in (int, float)
            and node.value == value
        )

    def is_rule(arg):
        if not (isinstance(arg, ast.BinOp) and isinstance(arg.op, ast.Add)):
            return False
        for scaled, half in ((arg.left, arg.right), (arg.right, arg.left)):
            if (
                num(half, 0.5)
                and isinstance(scaled, ast.BinOp)
                and isinstance(scaled.op, ast.Mult)
                and (num(scaled.left, 1e6) or num(scaled.right, 1e6))
            ):
                return True
        return False

    root = pathlib.Path(pkg.__file__).parent
    offenders = []
    for sub in ("plans", "operators"):
        for py in sorted((root / sub).rglob("*.py")):
            for node in ast.walk(ast.parse(py.read_text())):
                if (
                    isinstance(node, ast.Call)
                    and isinstance(node.func, ast.Attribute)
                    and node.func.attr == "floor"
                    and isinstance(node.func.value, ast.Name)
                    and node.func.value.id == "F"
                    and len(node.args) == 1
                    and is_rule(node.args[0])
                ):
                    offenders.append(f"{sub}/{py.name}:{node.lineno}")
    assert not offenders, (
        "hand-written 6-dp rounding (use functions.det.r6 or quant):\n"
        + "\n".join(offenders)
    )


def test_no_hand_written_ann_topk():
    """The ANN tier ranks through two kernels: the per-query top-k window
    (partitionBy("qid"), ordered by a distance or similarity and then
    by cid) is spelled only in operators.similarity.topk_per_query, and
    the ADC pair sum groupBy("qid", "cid") only in plans.pq_common.adc_topk.
    A copy elsewhere could drift from the oracles' tie-break. Parsed,
    not grepped, like the 6-dp rule above."""
    import ast
    import pathlib

    import sow_pyspark_scripts_spark as pkg

    kernels = {
        ("operators", "similarity.py", "topk_per_query"),
        ("plans", "pq_common.py", "adc_topk"),
    }

    def strs(args):
        return [a.value for a in args if isinstance(a, ast.Constant)]

    def is_cid(node):
        if isinstance(node, ast.Call) and getattr(node.func, "attr", None) == "col":
            node = node.args[0] if len(node.args) == 1 else None
        return isinstance(node, ast.Constant) and node.value == "cid"

    def is_qid_window(node):
        return (
            isinstance(node, ast.Call)
            and isinstance(node.func, ast.Attribute)
            and node.func.attr == "partitionBy"
            and isinstance(node.func.value, ast.Name)
            and node.func.value.id == "Window"
            and len(node.args) == 1
            and strs(node.args) == ["qid"]
        )

    def offends(node):
        if not (isinstance(node, ast.Call) and isinstance(node.func, ast.Attribute)):
            return False
        if node.func.attr == "groupBy":
            return len(node.args) == 2 and strs(node.args) == ["qid", "cid"]
        return (
            node.func.attr == "orderBy"
            and len(node.args) >= 2
            and is_cid(node.args[-1])
            and is_qid_window(node.func.value)
        )

    root = pathlib.Path(pkg.__file__).parent
    offenders = []
    for sub in ("plans", "operators"):
        for py in sorted((root / sub).rglob("*.py")):
            tree = ast.parse(py.read_text())
            inside = {
                id(n)
                for fn in ast.walk(tree)
                if isinstance(fn, ast.FunctionDef) and (sub, py.name, fn.name) in kernels
                for n in ast.walk(fn)
            }
            offenders += [
                f"{sub}/{py.name}:{node.lineno}"
                for node in ast.walk(tree)
                if offends(node) and id(node) not in inside
            ]
    assert not offenders, (
        f"{len(offenders)} hand-written ANN rank/score blocks (use "
        "operators.similarity.topk_per_query or plans.pq_common.adc_topk):\n"
        + "\n".join(offenders)
    )



def test_one_ann_index_definition():
    """The ANN index relations are defined once, by the families in
    plans.pq_common (pq_family, ivf_family, ivfadc_family): codebook
    training (_pq_codebook, _ivfadc_codebook), the codes pivot
    (min over a per-sub condition on cell) and a second coarse layer
    (ivf_cells_multi) appear in an index reader — pq_common or a module
    importing it — only inside that definition; every other reader takes
    the family frames or scans of the stored tables. Parsed, not
    grepped."""
    import ast
    import pathlib

    import sow_pyspark_scripts_spark as pkg

    definition = {"pq_family", "ivf_family", "ivfadc_family", "_code_cols"}
    # the delta encode trains its codebook on the BASE slice only (a
    # frozen codebook), which is not an index relation
    allowed = {("ann_index.py", "embedding_pq_encode_delta")}
    calls = {"_pq_codebook", "_ivfadc_codebook", "ivf_cells_multi"}

    def name(node):
        f = node.func
        return getattr(f, "attr", None) or getattr(f, "id", None)

    def is_pivot(node):
        # F.min(F.when(F.col("sub") == ..., ...)) or F.expr("min(if(sub = ...")
        if not (isinstance(node, ast.Call) and node.args):
            return False
        arg = node.args[0]
        if name(node) == "expr":
            return any(
                isinstance(c, ast.Constant) and "min(if(sub =" in str(c.value)
                for c in ast.walk(arg)
            )
        if name(node) != "min" or not (
            isinstance(arg, ast.Call) and name(arg) == "when" and arg.args
        ):
            return False
        cmp = arg.args[0]
        return (
            isinstance(cmp, ast.Compare)
            and isinstance(cmp.left, ast.Call)
            and name(cmp.left) == "col"
            and [getattr(a, "value", None) for a in cmp.left.args] == ["sub"]
        )

    def offends(node):
        return isinstance(node, ast.Call) and (name(node) in calls or is_pivot(node))

    root = pathlib.Path(pkg.__file__).parent / "plans"
    offenders = []
    for py in sorted(root.rglob("*.py")):
        src = py.read_text()
        if py.name != "pq_common.py" and "from .pq_common import" not in src:
            continue
        tree = ast.parse(src)
        inside = {
            id(n)
            for fn in ast.walk(tree)
            if isinstance(fn, ast.FunctionDef)
            and (
                (py.name == "pq_common.py" and fn.name in definition)
                or (py.name, fn.name) in allowed
            )
            for n in ast.walk(fn)
        }
        offenders += [
            f"plans/{py.name}:{node.lineno}"
            for node in ast.walk(tree)
            if offends(node) and id(node) not in inside
        ]
    assert not offenders, (
        f"{len(offenders)} ANN index relations built outside the index "
        "definition (use pq_common.pq_family / ivf_family / ivfadc_family):\n"
        + "\n".join(offenders)
    )


def test_no_hand_written_staging_or_drain():
    """Derived artifacts are staged through one protocol,
    sources.staging.stage, and the streaming twins drain through one
    foreachBatch append, streaming.pipeline.drain_batches. A rename
    commit, an O_EXCL lock, a tempdir sweep or a foreachBatch written
    under plans/ would be a second copy with its own concurrency rule."""
    import ast
    import pathlib

    import sow_pyspark_scripts_spark as pkg

    def is_attr(node, owner, attr):
        return (
            isinstance(node, ast.Attribute)
            and node.attr == attr
            and isinstance(node.value, ast.Name)
            and node.value.id == owner
        )

    def offends(node):
        if is_attr(node, "os", "rename") or is_attr(node, "os", "O_EXCL"):
            return True
        if isinstance(node, ast.Call) and getattr(node.func, "attr", None) == "foreachBatch":
            return True
        return (
            isinstance(node, ast.Call)
            and is_attr(node.func, "os", "listdir")
            and len(node.args) == 1
            and isinstance(node.args[0], ast.Call)
            and is_attr(node.args[0].func, "tempfile", "gettempdir")
        )

    root = pathlib.Path(pkg.__file__).parent
    offenders = [
        f"plans/{py.name}:{node.lineno}"
        for py in sorted((root / "plans").rglob("*.py"))
        for node in ast.walk(ast.parse(py.read_text()))
        if offends(node)
    ]
    assert not offenders, (
        "hand-written staging or drain under plans/ (use "
        "sources.staging.stage or streaming.pipeline.drain_batches):\n"
        + "\n".join(offenders)
    )

def test_pctl_exact_acc_covers_every_fixture_relation():
    """ADVICE r7: PCTL_EXACT_ACC guarantees oracle-exactness only while
    accuracy >= 2x the largest oracle-compared relation (rank error
    n/acc < 0.5 can never flip an order statistic). Nothing used to
    enforce that, so a fixture-scale bump (e.g. sf1 lineitem = 6M rows)
    would silently turn every sketch oracle approximate and surface as
    scattered off-by-one-rank reds. Fail HERE, at the pin, instead."""
    import glob
    import os

    import pyarrow.parquet as pq

    from sow_pyspark_scripts_spark.functions.sketch import PCTL_EXACT_ACC

    root = os.path.dirname(
        os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")
    )
    worst, n_max = None, 0
    for p in glob.glob(os.path.join(root, "sf*", "*.parquet")):
        n = pq.ParquetFile(p).metadata.num_rows
        if n > n_max:
            worst, n_max = p, n
    assert n_max > 0, f"no fixture parquet found under {root}"
    assert PCTL_EXACT_ACC >= 2 * n_max, (
        f"PCTL_EXACT_ACC={PCTL_EXACT_ACC} < 2x largest fixture relation "
        f"({worst}: {n_max} rows) — sketch oracles are no longer exact; "
        "raise the pin in functions/sketch.py"
    )


def test_no_raw_parquet_reads():
    """Every Parquet batch read under plans/ and streaming/ goes through
    sources.parquet.scan, which remembers inferred schemas; a raw
    ``.read.parquet(`` (or ``.read.option(...).parquet(``) without a
    schema, or a pandas-on-Spark ``read_parquet(``, would run a
    footer-merge job on every build. A read that passes ``.schema(...)``
    infers nothing and is allowed. Parsed, not grepped."""
    import ast
    import pathlib

    import sow_pyspark_scripts_spark as pkg

    def reader_chain(node):
        """The attribute names a ``.parquet(`` call's receiver goes
        through, innermost last: spark.read.option(..) -> [option, read]."""
        names = []
        node = node.func.value
        while isinstance(node, (ast.Call, ast.Attribute)):
            if isinstance(node, ast.Call):
                node = node.func
            else:
                names.append(node.attr)
                node = node.value
        return names

    def offends(node):
        if not isinstance(node, ast.Call):
            return False
        name = getattr(node.func, "attr", None) or getattr(node.func, "id", None)
        if name == "read_parquet":
            return True
        if name != "parquet" or not isinstance(node.func, ast.Attribute):
            return False
        chain = reader_chain(node)
        # the reader is the innermost .read; a .write/.readStream chain
        # or a read that carries a schema is not a raw read
        if "read" not in chain:
            return False
        reader = chain[: chain.index("read")]
        return "schema" not in reader and "write" not in reader

    root = pathlib.Path(pkg.__file__).parent
    offenders = [
        f"{sub}/{py.name}:{node.lineno}"
        for sub in ("plans", "streaming")
        for py in sorted((root / sub).rglob("*.py"))
        for node in ast.walk(ast.parse(py.read_text()))
        if offends(node)
    ]
    assert not offenders, (
        "raw Parquet read (use sources.parquet.scan):\n" + "\n".join(offenders)
    )
