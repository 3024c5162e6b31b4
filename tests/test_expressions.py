"""Expression semantics: Cypher-specific arithmetic, null logic, lists.

Reference: arithmetic_evaluator.py:50-181, boolean_evaluator.py:40-339,
collection_evaluator.py. All expected values follow openCypher.
"""

import math

import pytest


def one(golden, expr, params=None):
    df = golden.execute(f"RETURN {expr} AS x", params)
    return df.collect()[0]["x"]


def test_integer_division(golden):
    assert one(golden, "7 / 2") == 3
    assert one(golden, "-7 / 2") == -3  # truncation toward zero
    assert one(golden, "7.0 / 2") == 3.5


def test_modulo_sign(golden):
    assert one(golden, "7 % 3") == 1
    assert one(golden, "-7 % 3") == -1  # dividend's sign (C-style)


def test_pow_is_float(golden):
    v = one(golden, "2 ^ 10")
    assert v == 1024.0 and isinstance(v, float)


def test_string_concat_plus(golden):
    assert one(golden, "'a' + 'b'") == "ab"


def test_list_concat_plus(golden):
    assert one(golden, "[1,2] + [3]") == [1, 2, 3]
    assert one(golden, "[1,2] + 3") == [1, 2, 3]


def test_null_arithmetic(golden):
    assert one(golden, "1 + null") is None
    assert one(golden, "null * 2") is None
    # null + null has no type: it must not turn a CASE's string branch
    # into a failing cast to double
    df = golden.execute(
        "MATCH (n:Person) RETURN CASE WHEN n.name = 'Alice' THEN 'Alice' "
        "ELSE null + null END AS x"
    )
    assert sorted(r["x"] or "" for r in df.collect()) == ["", "", "", "Alice"]


def test_kleene_logic(golden):
    assert one(golden, "null AND false") is False
    assert one(golden, "null AND true") is None
    assert one(golden, "null OR true") is True
    assert one(golden, "null OR false") is None
    assert one(golden, "NOT null") is None
    assert one(golden, "true XOR null") is None
    assert one(golden, "true XOR false") is True


def test_comparison_null(golden):
    assert one(golden, "1 = null") is None
    assert one(golden, "null = null") is None
    assert one(golden, "null IS NULL") is True
    assert one(golden, "1 IS NOT NULL") is True


def test_chained_comparison(golden):
    assert one(golden, "1 < 2 < 3") is True
    assert one(golden, "1 < 2 < 2") is False


def test_case_simple_and_searched(golden):
    assert one(golden, "CASE 2 WHEN 1 THEN 'a' WHEN 2 THEN 'b' ELSE 'c' END") == "b"
    assert one(golden, "CASE WHEN false THEN 1 WHEN true THEN 2 END") == 2
    assert one(golden, "CASE WHEN false THEN 1 END") is None


def test_in_list(golden):
    assert one(golden, "2 IN [1,2,3]") is True
    assert one(golden, "5 IN [1,2,3]") is False


def test_regex_full_match(golden):
    # Cypher =~ matches the FULL string
    assert one(golden, "'abc' =~ 'a.'") is False
    assert one(golden, "'abc' =~ 'a.c'") is True


def test_string_predicates(golden):
    assert one(golden, "'hello' STARTS WITH 'he'") is True
    assert one(golden, "'hello' ENDS WITH 'lo'") is True
    assert one(golden, "'hello' CONTAINS 'ell'") is True


def test_index_and_slice(golden):
    assert one(golden, "[10,20,30][0]") == 10
    assert one(golden, "[10,20,30][-1]") == 30
    assert one(golden, "[10,20,30][5]") is None
    assert one(golden, "[1,2,3,4][1..3]") == [2, 3]
    assert one(golden, "[1,2,3,4][..2]") == [1, 2]
    assert one(golden, "[1,2,3,4][-2..]") == [3, 4]


def test_list_comprehension(golden):
    assert one(golden, "[x IN [1,2,3,4] WHERE x > 2 | x * 10]") == [30, 40]
    assert one(golden, "[x IN [1,2,3]]") == [1, 2, 3]


def test_quantifiers(golden):
    assert one(golden, "all(x IN [2,4] WHERE x % 2 = 0)") is True
    assert one(golden, "any(x IN [1,2] WHERE x = 2)") is True
    assert one(golden, "none(x IN [1,3] WHERE x = 2)") is True
    assert one(golden, "single(x IN [1,2,3] WHERE x = 2)") is True
    assert one(golden, "single(x IN [2,2] WHERE x = 2)") is False


def test_reduce(golden):
    assert one(golden, "reduce(acc = 0, x IN [1,2,3] | acc + x)") == 6
    assert one(golden, "reduce(s = '', x IN ['a','b'] | s + x)") == "ab"


def test_reduce_accumulator_type_unification(golden):
    """Cypher's accumulator is dynamically typed; Spark's aggregate()
    demands zero type == merge result type. Int seeds must run as
    BIGINT (found by list_deep_queries fuzzer, round 6)."""
    # int seed over a bigint collection with a widening merge
    assert one(golden, "reduce(acc = 5, x IN range(1, 4) | acc + x * 2)") == 25
    # float anywhere in the tower promotes the fold to double
    assert one(golden, "reduce(acc = 0.5, x IN range(1, 3) | acc + x)") == 6.5
    assert one(golden, "reduce(acc = 0, x IN [1.5, 2.5] | acc + x)") == 4.0
    # int division semantics survive the unification
    assert one(golden, "reduce(acc = 10, x IN range(1, 3) | acc / x)") == 1
    # empty collection returns the seed
    assert one(golden, "reduce(acc = 7, x IN range(3, 2) | acc + x)") == 7


def test_division_and_modulo_by_zero_null(golden):
    """Integer x/0 and x%0 are null, never an error (reference:
    arithmetic_evaluator.py:50-138, test_division_by_zero_fix.py);
    Spark's ANSI mode raises without the try_divide/try_mod forms."""
    assert one(golden, "1 / 0") is None
    assert one(golden, "0 / 0") is None
    assert one(golden, "-5 / 0") is None
    assert one(golden, "5 % 0") is None
    # truncating semantics unchanged on the non-zero path
    assert one(golden, "-7 / 2") == -3
    assert one(golden, "-5 % 3") == -2
    assert one(golden, "5 % -3") == 2


def test_range_empty_when_step_points_away(golden):
    """range(3, 2) is [] in Cypher; Spark's sequence() throws on such
    boundaries (found by list_deep_queries fuzzer, round 6)."""
    assert one(golden, "range(3, 2)") == []
    assert one(golden, "range(1, 5, -1)") == []
    assert one(golden, "range(5, 1, -2)") == [5, 3, 1]
    assert one(golden, "size(range(0, -1))") == 0


def test_map_literal_and_access(golden):
    assert one(golden, "{a: 1, b: 'x'}.a") == 1
    assert one(golden, "{a: 1}['a']") == 1


def test_string_functions(golden):
    assert one(golden, "toUpper('ab')") == "AB"
    assert one(golden, "trim('  x  ')") == "x"
    assert one(golden, "substring('hello', 1, 3)") == "ell"
    assert one(golden, "split('a,b,c', ',')") == ["a", "b", "c"]
    assert one(golden, "reverse('abc')") == "cba"
    assert one(golden, "replace('aaa', 'a', 'b')") == "bbb"
    assert one(golden, "left('hello', 2)") == "he"
    assert one(golden, "right('hello', 2)") == "lo"
    assert one(golden, "size('hello')") == 5


def test_math_functions(golden):
    assert one(golden, "abs(-3)") == 3
    assert one(golden, "ceil(1.2)") == 2.0
    assert one(golden, "floor(1.8)") == 1.0
    assert one(golden, "round(2.5)") == 3.0
    assert one(golden, "sqrt(16)") == 4.0
    assert one(golden, "sign(-5)") == -1
    assert abs(one(golden, "pi()") - math.pi) < 1e-12


def test_conversion_functions(golden):
    assert one(golden, "toInteger('42')") == 42
    assert one(golden, "toFloat('1.5')") == 1.5
    assert one(golden, "toString(7)") == "7"
    assert one(golden, "toBoolean('true')") is True
    assert one(golden, "toIntegerOrNull('abc')") is None


def test_list_functions(golden):
    assert one(golden, "head([1,2,3])") == 1
    assert one(golden, "last([1,2,3])") == 3
    assert one(golden, "tail([1,2,3])") == [2, 3]
    assert one(golden, "range(1, 4)") == [1, 2, 3, 4]
    assert one(golden, "range(0, 10, 5)") == [0, 5, 10]
    assert one(golden, "size([1,2])") == 2


def test_coalesce_nullif(golden):
    assert one(golden, "coalesce(null, 2)") == 2
    assert one(golden, "nullIf(1, 1)") is None


def test_temporal(golden):
    assert one(golden, "date('2024-03-05').year") == 2024
    assert one(golden, "datetime('2024-03-05T10:30:00').minute") == 30


def test_now_and_localdatetime_truncate(golden):
    # now() is the epoch-ms alias for timestamp()
    # (reference scalar_functions/__init__.py:252-260)
    assert one(golden, "now() >= timestamp() - 60000")
    import datetime

    # localdatetime.truncate registers the same truncation as
    # datetime.truncate (reference temporal_functions.py:612-618)
    assert one(
        golden, "localdatetime.truncate('quarter', '2024-05-20T10:30:45')"
    ) == datetime.datetime(2024, 4, 1, 0, 0)


def test_date_duration_arithmetic_stays_date(golden):
    import datetime

    # Cypher: date ± duration discards sub-day components and returns a
    # date (Spark would return a timestamp for day-time intervals)
    assert one(golden, "date('1997-03-15') + duration('P1M')") == datetime.date(1997, 4, 15)
    assert one(golden, "date('1997-03-15') - duration('P20D')") == datetime.date(1997, 2, 23)
    assert one(golden, "date('1997-03-15') + duration('PT5H')") == datetime.date(1997, 3, 15)
    assert one(golden, "datetime('1997-03-15T10:00:00') + duration('PT5H')") == datetime.datetime(
        1997, 3, 15, 15, 0
    )


def test_graph_entity_functions(run):
    assert run(
        "MATCH (n:Person {name:'Alice'}) RETURN id(n) AS i, labels(n) AS l"
    ) == [(1, ["Person"])]
    assert run(
        "MATCH (:Person {name:'Alice'})-[r:KNOWS]->(:Person {name:'Bob'}) "
        "RETURN type(r) AS t, startNode(r) AS s, endNode(r) AS e"
    ) == [("KNOWS", 1, 2)]


def test_hash_functions(golden):
    import hashlib

    assert one(golden, "md5('abc')") == hashlib.md5(b"abc").hexdigest()
    assert one(golden, "sha256('abc')") == hashlib.sha256(b"abc").hexdigest()


def test_custom_function_registration(golden):
    from pyspark.sql import functions as F

    golden.register_function("double_it", lambda cc, args: cc.col(args[0]) * 2)
    assert one(golden, "double_it(21)") == 42


def test_scalar_registry_covers_survey_inventory():
    """Every §2.8 reference-registered name resolves in the registry
    (lookup is lowercase-normalized)."""
    from pycypher_nmetl_spark.functions.scalar import SCALAR_FUNCTIONS

    survey = """
    toUpper toLower upper lower trim substring size left right ltrim rtrim
    replace split join reverse length isEmpty lpad rpad repeat btrim indexOf
    charAt char charCodeAt normalize startsWith endsWith contains byteSize
    abs ceil floor round sign sqrt cbrt log exp cot haversin hypot fmod log2
    sin cos tan asin acos atan sinh cosh tanh atan2 degrees radians pi e
    rand log10 pow bitAnd bitOr bitXor bitNot bitShiftLeft bitShiftRight
    gcd lcm
    toList head last tail range sort flatten toStringList toIntegerList
    toFloatList toBooleanList min max
    toString toInteger toFloat toBoolean toStringOrNull toBooleanOrNull
    toIntegerOrNull toFloatOrNull
    date datetime localdatetime duration timestamp localtime localdate
    coalesce id elementId nullIf isNaN isInfinite isFinite randomUUID
    valueType isString isInteger isFloat isBoolean isList isMap
    md5 sha1 sha256 encodeBase64 decodeBase64
    keys values properties labels type startNode endNode
    """.split()
    # min/max list-scalar variants are special-cased in the expression
    # compiler (aggregate names dispatched to array_min/array_max when the
    # argument is a list), not registry entries
    special_cased = {"min", "max"}
    missing = [
        n for n in survey
        if n.lower() not in SCALAR_FUNCTIONS and n not in special_cased
    ]
    assert not missing, f"registry missing: {missing}"
