"""Property-based tests (hypothesis): the compiled expression semantics must
match a direct Python model of the reference behaviour on arbitrary
strings — the dynamic-typing edge cases no hand-written fixture covers.

Each property batches the whole example list into ONE Spark job.
"""

from datetime import datetime

import pytest
from hypothesis import given, settings, strategies as st

from pyspark.sql import functions as F

from adtl_spark.functions import render as R
from adtl_spark.plans.compiler import RuleCompiler
from adtl_spark.spec import CompiledSpec

SETTINGS = dict(max_examples=15, deadline=None)

# printable-ish strings plus adversarial numeric shapes
value_strings = st.one_of(
    st.text(alphabet="0123456789.+-eE ", max_size=12),
    st.text(max_size=12).filter(lambda s: "\x00" not in s),
    st.sampled_from(
        ["", "007", "2.50", "1e3", ".5", "5.", "+-3", "--1", "inf", "nan",
         " 42 ", "0x1f", "1_000", "True", "False", "None", "[1, 2]"]
    ),
)


def py_numeric_coerce(v: str):
    """The reference's int-then-float attempt (get_value.py:162-170)."""
    try:
        return int(v)
    except ValueError:
        try:
            return float(v)
        except ValueError:
            return v


def spark_eval(spark, values, sql_fn):
    """``sql_fn`` (SQL text of column ``x`` -> SQL text) over ``values``."""
    df = spark.createDataFrame([(v,) for v in values], ["x"])
    return [r[0] for r in df.select(F.expr(sql_fn("x")).alias("out")).collect()]


@pytest.fixture(scope="module")
def compiler():
    spec = CompiledSpec(
        {
            "adtl": {
                "name": "prop",
                "description": "",
                "tables": {"t": {"kind": "oneToOne"}},
            },
            "t": {"v": {"field": "x"}},
        }
    )
    return RuleCompiler(spec, ["x"])


@given(values=st.lists(value_strings, min_size=1, max_size=40))
@settings(**SETTINGS)
def test_numeric_coerce_matches_python(spark, values):
    got = spark_eval(spark, values, R.numeric_coerce)
    for v, g in zip(values, got):
        if "_" in v or not v.isascii():
            # Python's int() accepts underscore separators and unicode
            # digits; the engine's regex deliberately does not (documented)
            continue
        expected = py_numeric_coerce(v)
        if isinstance(expected, str):
            assert g == expected, (v, g, expected)
        elif isinstance(expected, float):
            # scientific-notation rendering may differ (documented); compare
            # the parsed value instead of the rendering
            if expected in (float("inf"), float("-inf")) or expected != expected:
                return  # inf/nan accepted divergence (Python parses, Spark not)
            assert g is not None and abs(float(g) - expected) < 1e-9, (v, g, expected)
        else:
            if abs(expected) < 2**63 - 1:
                assert g == str(expected), (v, g, expected)


@given(
    values=st.lists(value_strings, min_size=1, max_size=30),
    literal=st.one_of(st.integers(-1000, 1000), st.floats(-100, 100, allow_nan=False)),
    op=st.sampled_from([">", ">=", "<", "<=", "!=", "=="]),
)
@settings(**SETTINGS)
def test_predicate_cast_semantics(spark, compiler, values, literal, op):
    """F1/F2: row value cast to the literal's Python type; cast failure ->
    False (reference: get_value.py:271-312)."""
    import operator

    ops = {
        ">": operator.gt, ">=": operator.ge, "<": operator.lt,
        "<=": operator.le, "!=": operator.ne, "==": operator.eq,
    }

    def expected(v):
        try:
            cast = type(literal)(v)
        except (ValueError, OverflowError):
            return False
        return ops[op](cast, literal)

    pred = compiler.compile_if({"x": {op: literal}})
    df = spark.createDataFrame([(v,) for v in values], ["x"])
    got = [r[0] for r in df.select(F.expr(pred).alias("p")).collect()]
    for v, g in zip(values, got):
        e = expected(v)
        if isinstance(literal, int) and not (-(2**62) < literal < 2**62):
            continue
        # Python int() accepts underscores/unicode digits that the engine's
        # regex (deliberately) does not; skip those rare shapes
        if isinstance(literal, int) and ("_" in v or not v.strip().lstrip("+-").isascii()):
            continue
        if isinstance(literal, float) and ("_" in v or "inf" in v.lower() or "nan" in v.lower()):
            continue
        assert bool(g) == bool(e), (v, op, literal, g, e)


@given(values=st.lists(value_strings, min_size=1, max_size=30))
@settings(**SETTINGS)
def test_schema_integer_coercion(spark, compiler, values):
    """P11: int(v), else int(round(float(v))) (banker's rounding), else
    unchanged (reference: util.py:12-40)."""

    def expected(v):
        try:
            return str(int(v))
        except ValueError:
            try:
                return str(int(round(float(v))))
            except (ValueError, OverflowError):
                return v

    got = spark_eval(
        spark, values, lambda c: compiler._schema_coerce(c, "integer")
    )
    for v, g in zip(values, got):
        e = expected(v)
        if "_" in v or "inf" in v.lower() or "nan" in v.lower() or not v.isascii():
            continue
        try:
            if abs(float(v)) >= 2**62:
                continue
        except ValueError:
            pass
        assert g == e, (v, g, e)


DATE_FORMATS = ["%Y-%m-%d", "%d/%m/%Y", "%m-%d-%Y", "%d %b %Y"]


@given(
    y=st.integers(1900, 2100),
    m=st.integers(1, 12),
    d=st.integers(1, 31),
    fmt=st.sampled_from(DATE_FORMATS),
    junk=st.text(max_size=8).filter(lambda s: "\x00" not in s),
)
@settings(**SETTINGS)
def test_date_reformat_matches_strptime(spark, y, m, d, fmt, junk):
    """P9: strptime(value, src) -> strftime('%Y-%m-%d'); failure -> null."""
    try:
        rendered = datetime(y, m, d).strftime(fmt)
    except ValueError:
        return
    values = [rendered, junk]

    def expected(v):
        if fmt == "%Y-%m-%d":
            # reference skips conversion when source == target format
            # (get_value.py:227) — junk passes through untouched
            return v
        try:
            return datetime.strptime(v, fmt).strftime("%Y-%m-%d")
        except ValueError:
            return None

    spec = CompiledSpec(
        {
            "adtl": {
                "name": "prop",
                "description": "",
                "tables": {"t": {"kind": "oneToOne"}},
            },
            "t": {"v": {"field": "x", "source_date": fmt, "date": "%Y-%m-%d"}},
        }
    )
    comp = RuleCompiler(spec, ["x"])
    val = comp.compile_value({"field": "x", "source_date": fmt, "date": "%Y-%m-%d"})
    df = spark.createDataFrame([(v,) for v in values], ["x"])
    got = [r[0] for r in df.select(F.expr(val.sql).alias("out")).collect()]
    for v, g in zip(values, got):
        e = expected(v)
        # Spark's parser is stricter about some junk shapes that strptime
        # accepts (e.g. trailing whitespace) — only require agreement on
        # the well-formed value and on clear junk
        if v == rendered:
            assert g == e, (v, fmt, g, e)
        elif e is None:
            assert g is None, (v, fmt, g)


@given(values=st.lists(value_strings, min_size=1, max_size=12))
@settings(**SETTINGS)
def test_group_min_max_fold_matches_python(spark, values):
    """Engine groupBy min/max over dynamic cells == Python min()/max() over
    the coerced values (the reference's applyCombinedType fold), including
    the render of the winner."""
    from adtl_spark.api import Parser

    vals = []
    for v in values:
        if "_" in v or not v.isascii():
            continue  # documented int()-parsing divergences
        c = py_numeric_coerce(v)
        if isinstance(c, float) and (c != c or c in (float("inf"), float("-inf"))):
            continue  # inf/nan: Python parses, engine doesn't (documented)
        if isinstance(c, float) and ("e" in v.lower() or abs(c) >= 1e7):
            continue  # scientific-notation rendering divergence (documented)
        vals.append(v)
    coerced = [py_numeric_coerce(v) for v in vals if v != ""]
    if not coerced:
        return
    kinds = {isinstance(c, str) for c in coerced}
    if len(kinds) > 1:
        return  # mixed numeric+str: Python raises TypeError; engine falls back

    spec = {
        "adtl": {
            "name": "p",
            "description": "",
            "tables": {
                "t": {"kind": "groupBy", "groupBy": "g", "aggregation": "applyCombinedType"}
            },
        },
        "t": {
            "g": {"field": "g"},
            "lo": {"combinedType": "min", "fields": [{"field": "x"}]},
            "hi": {"combinedType": "max", "fields": [{"field": "x"}]},
        },
    }
    rows = [{"g": "k", "x": v} for v in vals]
    p = Parser(spec, spark=spark).parse_rows(rows, skip_validation=True)
    row = p.table("t").collect()[0]
    assert row["lo"] == str(min(coerced)), (vals, row["lo"], min(coerced))
    assert row["hi"] == str(max(coerced)), (vals, row["hi"], max(coerced))


def test_pack_chunks_equivalent_across_bucket_widths(spark):
    """The two-phase distributed prefix sum behind pack_chunks must be
    bucket-width-invariant: for ANY width the (pack_id, pack_offset)
    assignment equals the single-stream prefix-sum oracle.  Randomized
    (seeded) chunk stream with ragged chunk counts and token sizes;
    widths cover every regime — one doc per bucket, widths that straddle
    doc-id gaps, a prime width, and one bucket for the whole corpus."""
    import random

    from adtl_spark.operators import text as X

    rng = random.Random(4242)
    rows = []
    for doc in sorted(rng.sample(range(0, 3000), 50)):
        for c in range(rng.randrange(1, 5)):
            rows.append((doc, c, rng.randrange(1, 60)))
    df = spark.createDataFrame(rows, ["doc_id", "chunk_id", "n_tokens"])

    for budget in (32, 97):
        cum, want = 0, {}
        for doc, c, n in sorted(rows):
            want[(doc, c)] = (cum // budget, cum % budget)
            cum += n
        for width in (1, 7, 256, 2048, 10**6):
            got = {
                (r["doc_id"], r["chunk_id"]): (r["pack_id"], r["pack_offset"])
                for r in X.pack_chunks(
                    df, budget=budget, bucket_width=width
                ).collect()
            }
            assert got == want, f"budget={budget} width={width}"


def test_select_until_budget_equivalent_across_band_widths(spark):
    """The banded prefix-sum selection must be invariant to band_width —
    including width 1 (one band per priority), a prime width, and a
    width collapsing everything into one band — and must equal a pure
    Python walk of the (priority DESC, id ASC) order."""
    import random

    from adtl_spark.operators import sampling as SA

    rng = random.Random(777)
    rows = [
        (i, rng.randrange(1, 40), rng.randrange(0, 25)) for i in range(300)
    ]
    df = spark.createDataFrame(rows, ["doc_id", "n_tokens", "priority"])
    for budget in (500, 2000):
        cum, want = 0, {}
        for doc, n, p in sorted(rows, key=lambda r: (-r[2], r[0])):
            cum += n
            if cum <= budget:
                want[doc] = cum
        for width in (1, 7, 64, 10**6):
            got = {
                r["doc_id"]: r["cum_tokens"]
                for r in SA.select_until_budget(
                    df, budget=budget, band_width=width
                ).collect()
            }
            assert got == want, f"budget={budget} width={width}"


def test_hll_registers_match_pure_python_model(spark):
    """Independent differential: the Spark HLL register table must equal a
    from-scratch Python implementation (hashlib md5, integer bit ops) on
    randomized keys — independent of the DuckDB oracle, which shares the
    SQL formulation."""
    import hashlib
    import random

    from pyspark.sql import functions as F

    from adtl_spark.operators import sketches as SK

    rng = random.Random(17)
    rows = [
        (f"g{rng.randrange(3)}", f"key-{rng.randrange(500)}")
        for _ in range(2000)
    ]
    expected: dict[tuple[str, int], int] = {}
    for grp, key in rows:
        h = int(hashlib.md5(f"hll|{key}".encode()).hexdigest()[:15], 16)
        j = h >> SK.HLL_W
        rest = h % (1 << SK.HLL_W)
        rho = SK.HLL_W + 1 if rest == 0 else SK.HLL_W + 1 - rest.bit_length()
        k = (grp, j)
        expected[k] = max(expected.get(k, 0), rho)

    df = spark.createDataFrame(rows, ["grp", "key"])
    got = {
        (r["grp"], r["register"]): r["m_rho"]
        for r in SK.hll_registers(df, F.col("key"), F.col("grp")).collect()
    }
    assert got == expected


def test_pagerank_matches_pure_python_model(spark):
    """Independent differential: exact-integer PageRank must equal a
    from-scratch Python implementation on a randomized co-occurrence
    graph — including the quantization, so the match is exact, not
    approximate.  Runs 5 iterations to also exercise the localCheckpoint
    lineage truncation beyond the gate query's 3."""
    import math
    import random

    from adtl_spark.operators import graph as G

    rng = random.Random(23)
    pairs = [(rng.randrange(40), f"m{rng.randrange(12)}") for _ in range(300)]
    verts = [f"m{i}" for i in range(14)]  # two isolated vertices

    # pure-python twin
    member = set(pairs)
    edges: dict[tuple[str, str], int] = {}
    by_g: dict[int, list[str]] = {}
    for g, m in member:
        by_g.setdefault(g, []).append(m)
    for g, ms in by_g.items():
        for a in ms:
            for b in ms:
                if a != b:
                    edges[(a, b)] = edges.get((a, b), 0) + 1
    outdeg: dict[str, int] = {}
    for (a, _), w in edges.items():
        outdeg[a] = outdeg.get(a, 0) + w
    S = G.PR_SCALE
    iters, damping = 5, 0.85
    base_q = int(round(0.15 * S))
    rq = {v: S for v in verts}
    for _ in range(iters):
        nxt = {v: base_q for v in verts}
        for (a, b), w in edges.items():
            nxt[b] += math.floor(damping * float(rq[a]) * w / outdeg[a])
        rq = nxt
    want = {
        v: math.floor(rq[v] / (S / 10000.0) + 0.5) / 10000.0 for v in verts
    }

    pdf = spark.createDataFrame(pairs, ["g", "m"])
    vdf = spark.createDataFrame([(v,) for v in verts], ["v"])
    got = {
        r["v"]: r["pagerank"]
        for r in G.pagerank(
            G.cooccurrence_edges(pdf, "g", "m"), vdf, iters=iters
        ).collect()
    }
    assert got == want


def test_bpe_merges_match_pure_python_model(spark):
    """Independent differential: the BPE merge table must equal a
    from-scratch Python trainer implementing the same documented
    semantics (word-frequency training, two-pass left-to-right replace,
    count-then-lexicographic tie-break)."""
    import random

    from adtl_spark.operators import tokenizer as T

    rng = random.Random(31)
    alphabet = "abcde"
    words = [
        "".join(rng.choice(alphabet) for _ in range(rng.randrange(2, 8)))
        for _ in range(120)
    ]
    text = " ".join(words)

    vocab: dict[str, int] = {}
    for w in words:
        vocab[w] = vocab.get(w, 0) + 1
    spaced = {" ".join(w): c for w, c in vocab.items()}
    expected = []
    for step in range(1, 5):
        counts: dict[tuple[str, str], int] = {}
        for w, c in spaced.items():
            syms = w.split(" ")
            for a, b in zip(syms, syms[1:]):
                counts[(a, b)] = counts.get((a, b), 0) + c
        if not counts:
            break
        (a, b), c = min(counts.items(), key=lambda kv: (-kv[1], kv[0]))
        expected.append((step, a, b, c))
        pat, rep = f" {a} {b} ", f" {a}{b} "
        spaced = {
            (" " + w + " ").replace(pat, rep).replace(pat, rep).strip(): cnt
            for w, cnt in spaced.items()
        }

    docs = spark.createDataFrame([(1, text)], ["doc_id", "text"])
    got = [
        (r["step"], r["s1"], r["s2"], r["cnt"])
        for r in T.bpe_merges(docs, n_merges=4).collect()
    ]
    assert got == expected


def test_weighted_sample_randomized_invariants(spark):
    """Randomized invariants: sample size = min(k, positive-weight rows),
    sample is a subset of the positive-weight population, and the result
    is the exact top-k of the full keyed ordering (so any two runs or any
    partitioning agree)."""
    import math
    import random

    from adtl_spark.operators import sampling as SA
    from adtl_spark.operators.dedup import md5_60  # noqa: F401  (doc pointer)

    rng = random.Random(43)
    for trial in range(3):
        n = rng.randrange(5, 60)
        k = rng.randrange(1, 20)
        rows = [
            (i, round(rng.uniform(-1.0, 5.0), 3)) for i in range(n)
        ]
        df = spark.createDataFrame(rows, ["doc_id", "w"])
        out = SA.weighted_sample(df, "w", k=k).collect()
        positives = {i for i, w in rows if w > 0}
        assert len(out) == min(k, len(positives))
        assert {r["doc_id"] for r in out} <= positives
        # equals the top-k of the full ordering computed in python
        import hashlib

        def key(i, w):
            h = int(
                hashlib.md5(f"wsample|{i}".encode()).hexdigest()[:15], 16
            )
            u = (h + 1) / float(1 << 60)
            return math.floor(math.log(u) / w * 1000000)

        full = sorted(
            ((key(i, w), i) for i, w in rows if w > 0),
            key=lambda t: (-t[0], t[1]),
        )
        assert [r["doc_id"] for r in out] == [i for _, i in full[: len(out)]]


def test_merge_upsert_randomized_partition(spark):
    """Randomized: statuses partition the id space exactly as a python
    dict simulation says, and the winning hash is batch-side on update."""
    import hashlib
    import random

    from adtl_spark.operators import corpus as C

    rng = random.Random(47)
    base_ids = rng.sample(range(100), 30)
    batch_ids = rng.sample(range(100), 30)
    base_rows = [(i, f"text-{i}") for i in base_ids]
    batch_rows = [
        (i, f"text-{i}" if rng.random() < 0.5 else f"text-{i}-v2")
        for i in batch_ids
    ]
    base = spark.createDataFrame(base_rows, ["doc_id", "text"])
    batch = spark.createDataFrame(batch_rows, ["doc_id", "text"])
    got = {
        r["doc_id"]: (r["status"], r["payload_hash"])
        for r in C.merge_upsert(base, batch).collect()
    }
    bd, id_ = dict(base_rows), dict(batch_rows)
    for i in set(bd) | set(id_):
        status, h = got[i]
        if i not in bd:
            assert status == "inserted"
        elif i not in id_:
            assert status == "retained"
        elif bd[i] == id_[i]:
            assert status == "unchanged"
        else:
            assert status == "updated"
        win = id_.get(i, bd.get(i))
        assert h == hashlib.md5(win.encode()).hexdigest()


@settings(max_examples=15, deadline=None)
@given(
    seed=st.integers(min_value=0, max_value=10**6),
    k=st.integers(min_value=3, max_value=25),
    n_hot=st.integers(min_value=0, max_value=6),
)
def test_heavy_hitters_matches_brute_force(spark, seed, k, n_hot):
    """Randomized guarantee check: heavy_hitters(k) must return EXACTLY
    the items with count > n/k on arbitrary Zipf-ish streams — the
    Misra-Gries candidate pass may not lose a single qualifying item
    under any (k, distribution) combination."""
    import random
    from collections import Counter

    from adtl_spark.operators import sketches as SK

    rng = random.Random(seed)
    rows = []
    for h in range(n_hot):
        rows += [(f"hot{h}",)] * rng.randrange(50, 400)
    rows += [(f"t{rng.randrange(500)}",) for _ in range(rng.randrange(100, 800))]
    rng.shuffle(rows)
    n = len(rows)
    exact = Counter(r[0] for r in rows)
    want = {(i, c) for i, c in exact.items() if c > n / k}
    df = spark.createDataFrame(rows, ["item"]).repartition(
        rng.choice([1, 3, 8])
    )
    got = {
        (r["item"], r["cnt"]) for r in SK.heavy_hitters(df, "item", k=k).collect()
    }
    assert got == want


@settings(max_examples=20, deadline=None)
@given(
    seed=st.integers(min_value=0, max_value=10**6),
    bits=st.integers(min_value=2, max_value=16),
)
def test_zorder_key_bijective_and_monotone_per_axis(spark, seed, bits):
    """Property: within the masked bit range the Morton key is a
    BIJECTION of (x, y) (no two cells collide), and fixing one axis
    makes the key strictly monotone in the other — the locality
    property row-group pruning relies on."""
    import random

    from adtl_spark.sources.io import zorder_key

    rng = random.Random(seed)
    lim = 1 << min(bits, 6)
    pts = [(x, y) for x in range(lim) for y in range(lim)]
    sample = rng.sample(pts, min(len(pts), 300))
    df = spark.createDataFrame(sample, ["x", "y"])
    got = {
        (r["x"], r["y"]): r["z"]
        for r in df.select(
            "x", "y", zorder_key([F.col("x"), F.col("y")], bits=bits).alias("z")
        ).collect()
    }
    assert len(set(got.values())) == len(got)  # bijective on the sample
    by_x: dict[int, list[tuple[int, int]]] = {}
    for (x, y), z in got.items():
        by_x.setdefault(x, []).append((y, z))
    for x, yz in by_x.items():
        yz.sort()
        zs = [z for _, z in yz]
        assert zs == sorted(zs), f"non-monotone at x={x}"


# ---------------- spec-model properties (V1 rule-level validation) ----------

_idents = st.sampled_from(["f1", "field_b", "src", "col9"])
_scalars = st.one_of(st.text(max_size=8).filter(lambda s: "\x00" not in s),
                     st.integers(-100, 100), st.booleans())


def _condition(depth: int):
    leaf = st.one_of(
        st.dictionaries(_idents, _scalars, min_size=1, max_size=2),
        st.dictionaries(
            _idents,
            st.fixed_dictionaries(
                {}, optional={
                    "<": st.integers(-5, 5),
                    ">=": st.integers(-5, 5),
                    "!=": st.integers(-5, 5),
                    "=~": st.sampled_from(["^a", "[0-9]+"]),
                },
            ).filter(lambda d: d),
            min_size=1,
            max_size=2,
        ),
    )
    if depth <= 0:
        return leaf
    sub = _condition(depth - 1)
    return st.one_of(
        leaf,
        st.fixed_dictionaries({"any": st.lists(sub, min_size=1, max_size=2)}),
        st.fixed_dictionaries({"all": st.lists(sub, min_size=1, max_size=2)}),
        st.fixed_dictionaries({"not": sub}),
    )


_field_rule = st.fixed_dictionaries(
    {"field": _idents},
    optional={
        "values": st.dictionaries(
            st.sampled_from(["1", "2", "y"]), _scalars, max_size=3
        ),
        "sensitive": st.booleans(),
        "caseInsensitive": st.just(True),
        "apply": st.fixed_dictionaries(
            {"function": st.sampled_from(["getFloat", "isNotNull"])}
        ),
        "if": _condition(2),
    },
)
_rule = st.one_of(
    st.text(max_size=6).filter(lambda s: "\x00" not in s),
    st.integers(-9, 9),
    st.booleans(),
    _field_rule,
    st.fixed_dictionaries(
        {
            "combinedType": st.sampled_from(
                ["list", "any", "all", "min", "max", "firstNonNull", "set"]
            ),
            "fields": st.lists(_field_rule, min_size=1, max_size=2),
        }
    ),
)


@given(rules=st.dictionaries(st.sampled_from(["a", "b", "c"]), _rule,
                             min_size=1, max_size=3))
@settings(**SETTINGS)
def test_model_accepts_arbitrary_valid_rule_trees(rules):
    """Every document assembled from the accepted rule grammar (constants,
    field rules with values/flags/apply/nested-if, combinedType folds)
    validates — the widened surface never rejects a well-formed spec."""
    from adtl_spark.model import validate_document

    validate_document(
        {
            "adtl": {
                "name": "prop",
                "description": "p",
                "tables": {"t": {"kind": "oneToOne"}},
            },
            "t": rules,
        }
    )


@given(
    rules=st.dictionaries(st.sampled_from(["a", "b"]), _field_rule,
                          min_size=1, max_size=2),
    bad_key=st.sampled_from(["bogus", "Field", "valeus", "iff"]),
)
@settings(**SETTINGS)
def test_model_rejects_any_unknown_rule_key(rules, bad_key):
    """Injecting one unknown key into any field rule always fails
    validation, and the error names the key."""
    import pydantic
    import pytest as _pytest

    from adtl_spark.model import validate_document

    target = next(iter(rules))
    rules = {**rules, target: {**rules[target], bad_key: 1}}
    with _pytest.raises(pydantic.ValidationError) as e:
        validate_document(
            {
                "adtl": {
                    "name": "prop",
                    "description": "p",
                    "tables": {"t": {"kind": "oneToOne"}},
                },
                "t": rules,
            }
        )
    assert bad_key in str(e.value)


def test_kmv_overlap_matches_pure_python_model(spark):
    """Independent differential: the KMV overlap row must equal a
    from-scratch Python model (hashlib md5, float estimator) on
    randomized token populations — independent of the DuckDB oracle,
    which shares the SQL formulation."""
    import hashlib
    import math
    import random

    from adtl_spark.operators.sketches import kmv_overlap

    rng = random.Random(23)
    a_vals = [f"tok-{rng.randrange(400)}" for _ in range(1500)]
    b_vals = [f"tok-{rng.randrange(400, 700)}" for _ in range(800)] + [
        f"tok-{rng.randrange(400)}" for _ in range(400)
    ]
    k = 64

    def h60(v: str) -> int:
        return int(hashlib.md5(v.encode()).hexdigest()[:15], 16)

    def sketch(vals):
        return sorted({h60(v) for v in vals})[:k]

    sk_a, sk_b = sketch(a_vals), sketch(b_vals)
    union = sorted(set(sk_a) | set(sk_b))[:k]
    matches = sum(1 for h in union if h in set(sk_a) and h in set(sk_b))

    def est(sk):
        if len(sk) < k:
            return float(len(sk))
        return (k - 1) * float(1 << 60) / sk[k - 1]

    a = spark.createDataFrame([(v,) for v in a_vals], ["v"])
    b = spark.createDataFrame([(v,) for v in b_vals], ["v"])
    row = kmv_overlap(a, b, "v", k=k).collect()[0]
    assert row["k_a"] == len(sk_a) and row["k_b"] == len(sk_b)
    assert row["k_u"] == len(union) and row["matches"] == matches
    assert row["est_a"] == math.floor(est(sk_a) + 0.5)
    assert row["est_b"] == math.floor(est(sk_b) + 0.5)
    assert row["est_union"] == math.floor(est(union) + 0.5)
    jac = matches / len(union)
    assert row["jaccard_q6"] == math.floor(jac * 1e6 + 0.5)
    assert row["est_inter"] == math.floor(jac * est(union) + 0.5)


def test_containment_matches_pure_python_model(spark):
    """Independent differential on a randomized duplicate-heavy corpus:
    the collapse-first containment join must equal the from-scratch naive
    python form (raw-document df cap included)."""
    import math
    import random

    from adtl_spark.operators.dedup import containment_pairs

    rng = random.Random(31)
    vocab = [f"w{i}" for i in range(8)]
    texts = [
        " ".join(rng.choice(vocab) for _ in range(rng.randrange(3, 10)))
        for _ in range(12)
    ]
    # force exact duplicates (the collapse path) on top of random docs
    docs = [(i, texts[i % len(texts)]) for i in range(20)]
    df = spark.createDataFrame(docs, ["doc_id", "text"])
    t, n, cap_frac = 0.4, 2, 0.5
    out = {
        (r["src"], r["dst"]): (r["inter"], r["n_src"], r["containment_q4"])
        for r in containment_pairs(
            df, threshold=t, n=n, max_doc_freq_frac=cap_frac
        ).collect()
    }

    def shingles(text):
        ts = [w for w in text.lower().split() if w]
        return {" ".join(ts[i : i + n]) for i in range(max(len(ts) - n + 1, 1))}

    sets = {i: shingles(txt) for i, txt in docs}
    df_counts: dict[str, int] = {}
    for s in sets.values():
        for sh in s:
            df_counts[sh] = df_counts.get(sh, 0) + 1
    cap = int(len(docs) * cap_frac)
    kept = {i: {sh for sh in s if df_counts[sh] <= cap} for i, s in sets.items()}

    expected = {}
    for i in kept:
        for j in kept:
            if i == j or not kept[i]:
                continue
            inter = len(kept[i] & kept[j])
            if inter >= t * len(kept[i]):
                expected[(i, j)] = (
                    inter,
                    len(kept[i]),
                    math.floor(inter / len(kept[i]) * 1e4 + 0.5) / 1e4,
                )
    assert out == expected


def test_drift_monitors_match_python_model_randomized(spark):
    """Randomized differential for both drift monitors: PSI rows and the
    KS row must equal from-scratch python models, and the headline
    statistics obey their analytic ranges (PSI contributions >= 0 up to
    quantization of nonnegative reals; 0 <= D <= 1e6)."""
    import math
    import random

    from pyspark.sql import functions as F

    from adtl_spark.operators.monitor import ks_drift, psi_drift

    rng = random.Random(47)
    ref_vals = [rng.randrange(12) for _ in range(900)]
    cur_vals = [min(11, rng.randrange(12) + (1 if rng.random() < 0.3 else 0))
                for _ in range(700)]
    ref = spark.createDataFrame([(v,) for v in ref_vals], ["x"])
    cur = spark.createDataFrame([(v,) for v in cur_vals], ["x"])
    nb = 12

    rows = psi_drift(ref, cur, F.col("x"), nb).collect()
    for r in rows:
        p = (ref_vals.count(r["bucket"]) + 0.5) / (len(ref_vals) + 0.5 * nb)
        q = (cur_vals.count(r["bucket"]) + 0.5) / (len(cur_vals) + 0.5 * nb)
        assert r["psi_q6"] == math.floor((p - q) * math.log(p / q) * 1e6 + 0.5)
        assert r["psi_q6"] >= 0

    row = ks_drift(ref, cur, F.col("x")).collect()[0]
    pts = sorted(set(ref_vals) | set(cur_vals))
    g = {
        v: math.floor(
            abs(
                sum(1 for a in ref_vals if a <= v) / len(ref_vals)
                - sum(1 for b in cur_vals if b <= v) / len(cur_vals)
            )
            * 1e6
            + 0.5
        )
        for v in pts
    }
    d = max(g.values())
    assert row["d_q6"] == d and 0 <= d <= 1_000_000
    assert row["d_at"] == min(v for v in pts if g[v] == d)


def test_dsir_matches_pure_python_model(spark):
    """Independent differential for DSIR: hashlib-md5 bucket models and
    python-float qlogs on a randomized corpus (the round-7 unit test uses
    Spark's own hash; this one shares nothing with the implementation)."""
    import hashlib
    import math
    import random

    from pyspark.sql import functions as F

    from adtl_spark.operators.sampling import dsir_select

    rng = random.Random(59)
    vocab = [f"v{i}" for i in range(30)]
    docs = [
        (
            i,
            " ".join(rng.choice(vocab) for _ in range(rng.randrange(1, 12))),
            rng.choice(["en", "fr"]),
        )
        for i in range(40)
    ]
    df = spark.createDataFrame(docs, ["doc_id", "text", "lang"])
    B, top_n = 32, 40
    out = {
        r["doc_id"]: (r["n_tokens"], r["weight_q4"])
        for r in dsir_select(
            df, df.filter(F.col("lang") == "en"), top_n=top_n, n_buckets=B
        ).collect()
    }

    def bucket(tok: str) -> int:
        return int(hashlib.md5(tok.encode()).hexdigest()[:15], 16) % B

    t_hist: dict[int, int] = {}
    r_hist: dict[int, int] = {}
    t_total = r_total = 0
    toks = {i: [w for w in txt.lower().split() if w] for i, txt, _ in docs}
    for i, txt, lang in docs:
        for w in toks[i]:
            b = bucket(w)
            r_hist[b] = r_hist.get(b, 0) + 1
            r_total += 1
            if lang == "en":
                t_hist[b] = t_hist.get(b, 0) + 1
                t_total += 1

    def qlog(cnt, total):
        return math.floor(math.log((cnt + 0.5) / (total + 0.5 * B)) * 1e4 + 0.5)

    for i, txt, _ in docs:
        if not toks[i]:
            assert i not in out
            continue
        w = sum(
            qlog(t_hist.get(bucket(x), 0), t_total)
            - qlog(r_hist.get(bucket(x), 0), r_total)
            for x in toks[i]
        )
        assert out[i] == (len(toks[i]), w)


def test_quantile_bottomk_matches_pure_python_model(spark):
    """Independent differential: the bottom-k quantile sketch must equal
    a from-scratch Python model (hashlib md5 bottom-k of distinct keys,
    type-1 sample quantiles) on randomized multi-group data with
    duplicate keys and ties."""
    import hashlib
    import random

    from adtl_spark.operators.sketches import quantile_bottomk

    rng = random.Random(71)
    rows = [
        (rng.randrange(300), rng.randrange(40), f"g{rng.randrange(3)}")
        for _ in range(2000)
    ]
    k = 32

    def h60(v: str) -> int:
        return int(hashlib.md5(f"qsk|{v}".encode()).hexdigest()[:15], 16)

    # duplicate keys collapse to min value, matching the operator
    per_key = {}
    for key, v, g in rows:
        cur = per_key.get((g, key))
        per_key[(g, key)] = v if cur is None else min(cur, v)
    by_group = {}
    for (g, key), v in per_key.items():
        by_group.setdefault(g, []).append((h60(str(key)), v))
    want = {}
    for g, hv in by_group.items():
        sample = sorted(hv)[:k]
        ordered = sorted((v, h) for h, v in sample)
        n = len(ordered)
        qs = [ordered[(n * q + 99) // 100 - 1][0] for q in (10, 25, 50, 75, 90)]
        want[g] = (n, *qs)

    df = spark.createDataFrame(rows, ["k", "v", "g"])
    got = {
        r["grp"]: (r["n_sample"], r["q10"], r["q25"], r["q50"], r["q75"], r["q90"])
        for r in quantile_bottomk(df, "v", "k", "g", k=k).collect()
    }
    assert got == want


def test_shard_manifest_matches_pure_python_model(spark):
    """Independent differential: shard ids, counts, sizes, and xor
    checksums against a hashlib reimplementation."""
    import hashlib
    import random

    from adtl_spark.sources.io import shard_manifest

    rng = random.Random(5)
    rows = [(i, rng.randrange(1, 5000)) for i in range(700)]
    n_shards = 8
    width = (1 << 60) // n_shards

    def h60(s: str) -> int:
        return int(hashlib.md5(s.encode()).hexdigest()[:15], 16)

    want = {}
    for doc_id, n_chars in rows:
        shard = h60(f"shuffle|{doc_id}") // width
        rh = h60(f"manifest|{doc_id}|{n_chars}")
        n, sz, x = want.get(shard, (0, 0, 0))
        want[shard] = (n + 1, sz + n_chars, x ^ rh)

    df = spark.createDataFrame(rows, ["doc_id", "n_chars"])
    got = {
        r["shard"]: (r["n_rows"], r["total_size"], r["checksum"])
        for r in shard_manifest(df, n_shards, size_col="n_chars").collect()
    }
    assert got == want


def test_pr_curve_randomized_invariants(spark):
    """Randomized invariants: recall is monotone non-decreasing as the
    threshold drops, the last row covers everything (recall 1.0, cum_n =
    N), and bin populations partition the input."""
    import random

    from adtl_spark.operators.corpus import pr_curve

    rng = random.Random(13)
    data = [
        (round(rng.gauss(0.4 if rng.random() < 0.5 else -0.2, 0.3), 4),
         rng.random() < 0.45)
        for _ in range(500)
    ]
    df = spark.createDataFrame(data, ["nb_score", "label"])
    rows = pr_curve(df, "label", "nb_score", n_bins=16).collect()
    recalls = [r["recall_q6"] for r in rows]
    assert recalls == sorted(recalls)
    assert rows[-1]["cum_n"] == len(data)
    assert rows[-1]["recall_q6"] == 1000000
    assert sum(r["n"] for r in rows) == len(data)
    assert rows[-1]["cum_tp"] == sum(1 for _, y in data if y)
