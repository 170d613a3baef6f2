"""Keyword-evaluator tests: each SURVEY §2B keyword over tiny DataFrames
with known pass/fail rows (the reference has no evaluator; semantics are
draft 2020-12 as encoded by its keyword model, schema.go:44-140).
"""

import pytest

from pyspark.sql import Row
from pyspark.sql import functions as F
from pyspark.sql import types as T

from jsonschema_spark.operators.validate import validate
from jsonschema_spark.schema import Schema


def _violated(res, key):
    """{key -> set of violated keywords}"""
    rows = res.violations([key]).collect()
    out = {}
    for r in rows:
        out.setdefault(r[key], set()).add(r.keyword)
    return out


@pytest.fixture(scope="module")
def people(spark):
    schema = T.StructType(
        [
            T.StructField("id", T.LongType(), False),
            T.StructField("name", T.StringType(), True),
            T.StructField("age", T.IntegerType(), True),
            T.StructField("email", T.StringType(), True),
            T.StructField("tags", T.ArrayType(T.StringType()), True),
            T.StructField(
                "address",
                T.StructType(
                    [
                        T.StructField("city", T.StringType(), True),
                        T.StructField("zip", T.StringType(), True),
                    ]
                ),
                True,
            ),
        ]
    )
    rows = [
        Row(id=1, name="alice", age=30, email="a@x.io", tags=["a", "b"], address=Row(city="Rome", zip="12345")),
        Row(id=2, name=None, age=-5, email="bad", tags=["a", "a"], address=Row(city=None, zip="999")),
        Row(id=3, name="bob", age=200, email=None, tags=[], address=None),
    ]
    return spark.createDataFrame(rows, schema)


def test_required_minimum_maximum_pattern(people):
    schema = Schema.from_value(
        {
            "type": "object",
            "required": ["name"],
            "properties": {
                "age": {"type": "integer", "minimum": 0, "maximum": 150},
                "email": {"type": "string", "pattern": "^[^@]+@[^@]+$"},
            },
        }
    )
    res = validate(people, schema)
    v = _violated(res, "id")
    assert v.get(1) is None
    assert v[2] == {"required", "minimum", "pattern"}
    assert v[3] == {"maximum"}  # missing email is vacuously valid


def test_array_keywords(people):
    schema = Schema.from_value(
        {
            "properties": {
                "tags": {"minItems": 1, "uniqueItems": True, "items": {"minLength": 1}}
            }
        }
    )
    v = _violated(validate(people, schema), "id")
    assert v.get(1) is None
    assert v[2] == {"uniqueItems"}
    assert v[3] == {"minItems"}


def test_nested_struct_required_and_pattern(people):
    schema = Schema.from_value(
        {
            "properties": {
                "address": {
                    "type": "object",
                    "required": ["city"],
                    "properties": {"zip": {"pattern": "^\\d{5}$"}},
                }
            }
        }
    )
    v = _violated(validate(people, schema), "id")
    assert v.get(1) is None
    assert v[2] == {"required", "pattern"}
    assert v.get(3) is None  # null address: vacuous


def test_enum_const(people, spark):
    schema = Schema.from_value({"properties": {"name": {"enum": ["alice", "bob"]}}})
    v = _violated(validate(people, schema), "id")
    assert v.get(1) is None and v.get(2) is None and v.get(3) is None

    schema = Schema.from_value({"properties": {"name": {"const": "alice"}}})
    v = _violated(validate(people, schema), "id")
    assert v.get(1) is None and v[3] == {"const"}


def test_logic_applicators(people):
    schema = Schema.from_value(
        {
            "properties": {
                "age": {
                    "anyOf": [{"minimum": 100}, {"maximum": 50}],
                    "oneOf": [{"minimum": 0}, {"maximum": -1}],
                    "not": {"const": 200},
                }
            }
        }
    )
    v = _violated(validate(people, schema), "id")
    # age=30: anyOf ok (<=50), oneOf ok (exactly branch 1), not ok
    assert v.get(1) is None
    # age=-5: anyOf ok (<=50); oneOf: matches only maximum:-1 branch → ok
    assert v.get(2) is None
    # age=200: anyOf ok (>=100), oneOf ok, not violated
    assert v[3] == {"not"}


def test_if_then_else(spark):
    df = spark.createDataFrame(
        [
            Row(id=1, isMember=True, num="1234567890"),
            Row(id=2, isMember=True, num="123"),
            Row(id=3, isMember=False, num="1234567890-1234"),
            Row(id=4, isMember=False, num="short"),
        ]
    )
    # conditional-validation-if-else.schema.json, over columns
    schema = Schema.from_value(
        {
            "type": "object",
            "properties": {"isMember": {"type": "boolean"}},
            "required": ["isMember"],
            "if": {"properties": {"isMember": {"const": True}}},
            "then": {"properties": {"num": {"minLength": 10, "maxLength": 10}}},
            "else": {"properties": {"num": {"minLength": 15}}},
        }
    )
    v = _violated(validate(df, schema), "id")
    assert v.get(1) is None
    assert v[2] == {"if"}
    assert v.get(3) is None
    assert v[4] == {"if"}


def test_dependent_required_and_schemas(spark):
    df = spark.createDataFrame(
        [
            Row(id=1, foo=True, bar="x", propertiesCount=9),
            Row(id=2, foo=True, bar=None, propertiesCount=3),
            Row(id=3, foo=None, bar=None, propertiesCount=None),
        ]
    )
    schema = Schema.from_value(
        {
            "dependentRequired": {"foo": ["bar"]},
            "dependentSchemas": {
                "foo": {
                    "required": ["propertiesCount"],
                    "properties": {"propertiesCount": {"minimum": 7}},
                }
            },
        }
    )
    v = _violated(validate(df, schema), "id")
    assert v.get(1) is None
    assert v[2] == {"dependentRequired", "dependentSchemas"}
    assert v.get(3) is None


def test_additional_properties_closed_world(spark):
    df = spark.createDataFrame([Row(id=1, a="x", extra=None), Row(id=2, a="y", extra="boom")])
    schema = Schema.from_value(
        {"properties": {"id": True, "a": {"type": "string"}}, "additionalProperties": False}
    )
    v = _violated(validate(df, schema), "id")
    assert v.get(1) is None  # NULL extra = absent = allowed
    assert v[2] == {"additionalProperties"}


def test_type_static_mismatch(spark):
    df = spark.createDataFrame([Row(id=1, a="not-a-number")])
    schema = Schema.from_value({"properties": {"a": {"type": "integer"}}})
    v = _violated(validate(df, schema), "id")
    assert v[1] == {"type"}


def test_integer_accepts_whole_doubles(spark):
    df = spark.createDataFrame([Row(id=1, x=3.0), Row(id=2, x=3.5)])
    schema = Schema.from_value({"properties": {"x": {"type": "integer"}}})
    v = _violated(validate(df, schema), "id")
    assert v.get(1) is None
    assert v[2] == {"type"}


def test_multiple_of_decimal(spark):
    df = spark.createDataFrame([Row(id=1, x=0.3), Row(id=2, x=0.35)])
    schema = Schema.from_value({"properties": {"x": {"multipleOf": 0.1}}})
    v = _violated(validate(df, schema), "id")
    assert v.get(1) is None
    assert v[2] == {"multipleOf"}


def test_ref_inlining_through_defs(spark):
    df = spark.createDataFrame([Row(id=1, veg=[Row(veggieName="c", veggieLike=True)]),
                                Row(id=2, veg=[Row(veggieName=None, veggieLike=None)])])
    schema = Schema.from_value(
        {
            "properties": {"veg": {"type": "array", "items": {"$ref": "#/$defs/veggie"}}},
            "$defs": {"veggie": {"type": "object", "required": ["veggieName", "veggieLike"]}},
        }
    )
    v = _violated(validate(df, schema), "id")
    assert v.get(1) is None
    assert v[2] == {"items"}


def test_summary_and_totals(people):
    schema = Schema.from_value({"required": ["name"]})
    res = validate(people, schema)
    t = res.totals().collect()[0]
    assert t.rows == 3 and t.failed == 1 and t.passed == 2
    s = res.summary().collect()
    assert sum(r.rows for r in s) == 3
    assert sum(r.violation_count for r in s) == 1


def test_valid_expression_stays_jvm_side(people):
    # The whole constraint plan must be Column expressions (no Python UDFs):
    # the physical plan shows codegen and no BatchEvalPython/ArrowEvalPython.
    schema = Schema.from_value(
        {
            "required": ["name"],
            "properties": {
                "age": {"minimum": 0, "maximum": 150},
                "email": {"pattern": "^[^@]+@[^@]+$"},
                "tags": {"minItems": 1, "uniqueItems": True},
            },
        }
    )
    res = validate(people, schema)
    plan = res.annotated._jdf.queryExecution().executedPlan().toString()
    assert "EvalPython" not in plan


def test_content_schema_json_string_column(spark):
    """contentSchema over a JSON-string column: parse via from_json with the
    typemap-derived type, evaluate the subschema — no Python in the path."""
    from pyspark.sql import Row

    doc = {
        "type": "object",
        "properties": {
            "payload": {
                "type": "string",
                "contentMediaType": "application/json",
                "contentSchema": {
                    "type": "object",
                    "required": ["k"],
                    "properties": {"k": {"type": "integer", "minimum": 10}},
                },
            }
        },
    }
    df = spark.createDataFrame(
        [
            Row(rid=1, payload='{"k": 42}'),
            Row(rid=2, payload='{"k": 3}'),      # minimum
            Row(rid=3, payload='{}'),             # required
            Row(rid=4, payload='not json at all'),
            Row(rid=5, payload=None),             # absent -> vacuous
        ],
        "rid long, payload string",
    )
    res = validate(spark_df := df, doc)
    got = sorted((r.rid, r.keyword) for r in res.violations(["rid"]).collect())
    assert got == [(2, "contentSchema"), (3, "contentSchema"), (4, "contentSchema")]
    plan = res.totals()._jdf.queryExecution().executedPlan().toString()
    assert "EvalPython" not in plan


def test_content_encoding_base64(spark):
    """contentEncoding (schema.go:126): base64 validity asserted JVM-side via
    the RFC 4648 regex; unknown encodings stay annotation-only."""
    from pyspark.sql import Row

    doc = {
        "type": "object",
        "properties": {
            "payload": {"type": "string", "contentEncoding": "base64"},
            "other": {"type": "string", "contentEncoding": "quoted-printable"},
        },
    }
    df = spark.createDataFrame(
        [
            Row(rid=1, payload="aGVsbG8=", other="=3D"),   # valid
            Row(rid=2, payload="not base64!!", other="x"), # alphabet violation
            Row(rid=3, payload="abc", other=None),          # length % 4 != 0
            Row(rid=4, payload="", other=None),             # empty is valid
            Row(rid=5, payload=None, other=None),           # absent -> vacuous
        ],
        "rid long, payload string, other string",
    )
    res = validate(df, doc)
    got = sorted((r.rid, r.keyword) for r in res.violations(["rid"]).collect())
    assert got == [(2, "contentEncoding"), (3, "contentEncoding")]


def test_content_schema_base64_wrapped_json(spark):
    """contentEncoding composes with contentSchema: decode base64 first, then
    from_json + subschema evaluation; malformed base64 fails BOTH keywords."""
    import base64 as b64
    import json as js

    from pyspark.sql import Row

    enc = lambda o: b64.b64encode(js.dumps(o).encode()).decode()
    doc = {
        "type": "object",
        "properties": {
            "payload": {
                "type": "string",
                "contentEncoding": "base64",
                "contentMediaType": "application/json",
                "contentSchema": {
                    "type": "object",
                    "required": ["k"],
                    "properties": {"k": {"type": "integer", "minimum": 40}},
                },
            }
        },
    }
    df = spark.createDataFrame(
        [
            Row(rid=1, payload=enc({"k": 50})),
            Row(rid=2, payload=enc({"k": 5})),   # inner minimum
            Row(rid=3, payload="%%%"),            # not base64 at all
            Row(rid=4, payload=None),             # absent -> vacuous
        ],
        "rid long, payload string",
    )
    res = validate(df, doc)
    got = {}
    for r in res.violations(["rid"]).collect():
        got.setdefault(r.rid, set()).add(r.keyword)
    assert got == {
        2: {"contentSchema"},
        3: {"contentEncoding", "contentSchema"},
    }
    plan = res.totals()._jdf.queryExecution().executedPlan().toString()
    assert "EvalPython" not in plan


def test_unevaluated_properties_struct(spark):
    """unevaluatedProperties with annotation flow (SURVEY §7 hard part): a
    property counts as evaluated only via properties/patternProperties/
    additionalProperties here or in a successfully-VALIDATING in-place
    applicator branch; failing branches drop their annotations."""
    from pyspark.sql import Row

    doc = {
        "type": "object",
        "properties": {"rid": {}, "a": {"type": "integer"}},
        "allOf": [{"properties": {"b": {"type": "integer", "maximum": 10}}}],
        "if": {"properties": {"a": {"minimum": 5}}, "required": ["a"]},
        "then": {"properties": {"c": {}}},
        "unevaluatedProperties": False,
    }
    df = spark.createDataFrame(
        [
            Row(rid=1, a=1, b=5, c=None, d=None),   # clean (c/d absent)
            Row(rid=2, a=7, b=5, c=3, d=None),      # c evaluated via then
            Row(rid=3, a=1, b=5, c=3, d=None),      # if fails -> c unevaluated
            Row(rid=4, a=7, b=20, c=None, d=None),  # allOf branch fails -> b unevaluated
            Row(rid=5, a=7, b=None, c=None, d=4),   # d never evaluated
        ],
        "rid long, a int, b int, c int, d int",
    )
    res = validate(df, doc)
    v = _violated(res, "rid")
    assert v == {
        3: {"unevaluatedProperties"},
        4: {"maximum", "unevaluatedProperties"},
        5: {"unevaluatedProperties"},
    }


def test_unevaluated_properties_map(spark):
    """Dynamic-key (MapType) unevaluatedProperties via map higher-order
    functions: unmatched keys must satisfy the subschema."""
    from pyspark.sql import types as TT

    doc = {
        "type": "object",
        "properties": {
            "props": {
                "type": "object",
                "properties": {"k": {}},
                "patternProperties": {"^x": {}},
                "unevaluatedProperties": {"maximum": 5},
            }
        },
    }
    schema = TT.StructType(
        [
            TT.StructField("rid", TT.LongType()),
            TT.StructField("props", TT.MapType(TT.StringType(), TT.IntegerType())),
        ]
    )
    df = spark.createDataFrame(
        [
            (1, {"k": 99, "zz": 3}),   # zz unevaluated but <= 5
            (2, {"zz": 9}),             # zz unevaluated and > 5
            (3, {"xq": 50}),            # matches ^x -> evaluated
            (4, None),                  # absent -> vacuous
        ],
        schema,
    )
    v = _violated(validate(df, doc), "rid")
    assert v == {2: {"unevaluatedProperties"}}


def test_unevaluated_items(spark):
    """unevaluatedItems: prefixItems positions and contains-matched elements
    count as evaluated; everything else must satisfy the subschema."""
    from pyspark.sql import Row

    doc = {
        "type": "object",
        "properties": {
            "arr": {
                "type": "array",
                "prefixItems": [{}],
                "contains": {"minimum": 100},
                "unevaluatedItems": {"maximum": 10},
            }
        },
    }
    df = spark.createDataFrame(
        [
            Row(rid=1, arr=[999, 5, 3]),    # idx0 prefix, 999 contains, rest <= 10
            Row(rid=2, arr=[999, 50]),      # 50 unevaluated and > 10
            Row(rid=3, arr=[5, 200, 11]),   # 11 unevaluated and > 10
            Row(rid=4, arr=[1, 2]),         # contains fails; 2 <= 10 ok
        ],
        "rid long, arr array<int>",
    )
    v = _violated(validate(df, doc), "rid")
    assert v == {2: {"unevaluatedItems"}, 3: {"unevaluatedItems"}, 4: {"contains"}}


def test_unevaluated_items_branch_gating(spark):
    """Annotations from a failing anyOf branch are dropped: its `items`
    coverage only applies when the branch validates."""
    from pyspark.sql import Row

    doc = {
        "type": "object",
        "properties": {
            "arr": {
                "type": "array",
                "anyOf": [
                    {"items": {"type": "integer", "maximum": 50}},
                    {"maxItems": 1},
                ],
                "unevaluatedItems": False,
            }
        },
    }
    df = spark.createDataFrame(
        [
            Row(rid=1, arr=[1, 2, 3]),   # branch 1 validates -> all evaluated
            Row(rid=2, arr=[99]),        # branch 2 validates but evaluates nothing
            Row(rid=3, arr=[99, 1]),     # both branches fail
        ],
        "rid long, arr array<int>",
    )
    v = _violated(validate(df, doc), "rid")
    assert v == {
        2: {"unevaluatedItems"},
        3: {"anyOf", "unevaluatedItems"},
    }


def test_format_assertions_extended(spark):
    """Opt-in format vocabulary: duration / ipv6 / json-pointer / uri join
    the original seven; all compile to a single rlike (JVM-side, RE2-safe)."""
    from pyspark.sql import Row

    from jsonschema_spark.plans.compile import CompileOptions

    doc = {
        "type": "object",
        "properties": {
            "dur": {"type": "string", "format": "duration"},
            "ip6": {"type": "string", "format": "ipv6"},
            "ptr": {"type": "string", "format": "json-pointer"},
            "uri": {"type": "string", "format": "uri"},
        },
    }
    df = spark.createDataFrame(
        [
            Row(rid=1, dur="P1Y2M3DT4H5M6S", ip6="2001:db8::1", ptr="/a/b~1c",
                uri="https://example.com/x?q=1"),
            Row(rid=2, dur="P", ip6="1::2::3", ptr="a/b", uri="not a uri"),
            Row(rid=3, dur="PT0.5S", ip6="::", ptr="", uri="urn:isbn:096139210x"),
            Row(rid=4, dur=None, ip6=None, ptr=None, uri=None),
        ],
        "rid long, dur string, ip6 string, ptr string, uri string",
    )
    res = validate(df, doc, CompileOptions(assert_formats=True))
    got = {}
    for r in res.violations(["rid"]).collect():
        got.setdefault(r.rid, set()).add(r.column)
    assert got == {2: {"dur", "ip6", "ptr", "uri"}}


def test_by_keyword_rollup(people):
    """Per-keyword triage rollup: counts per (keyword_path, keyword, column)
    plus O(1)-state min/max example keys."""
    schema = Schema.from_value(
        {
            "type": "object",
            "required": ["name"],
            "properties": {
                "age": {"type": "integer", "minimum": 0, "maximum": 150},
                "email": {"type": "string", "pattern": "^[^@]+@[^@]+$"},
            },
        }
    )
    rows = validate(people, schema).by_keyword("id").collect()
    got = {(r.keyword, r.column): (r.violations, r.example_min, r.example_max)
           for r in rows}
    assert got == {
        ("required", "name"): (1, 2, 2),
        ("minimum", "age"): (1, 2, 2),
        ("maximum", "age"): (1, 3, 3),
        ("pattern", "email"): (1, 2, 2),
    }


def test_summary_by_salted_equals_plain(people):
    """Grouped rollup: the salted two-phase aggregate must be value-identical
    to the plain groupBy (counts are algebraic) — pins the salt plumbing."""
    schema = Schema.from_value(
        {
            "type": "object",
            "required": ["name"],
            "properties": {"age": {"minimum": 0, "maximum": 150}},
        }
    )
    res = validate(people, schema)
    plain = [tuple(r) for r in res.summary_by(["name"]).collect()]
    salted = [tuple(r) for r in res.summary_by(["name"], salted=True, salt_buckets=7).collect()]
    assert salted == plain
    assert sum(r[1] for r in plain) == 3  # all rows accounted for


def test_variant_dynamic_json_validation(spark):
    """VariantType: runtime-typed JSON values. Keyword applicability gates
    become schema_of_variant predicates; object keywords run over a
    map<string,variant> view; JSON null and ABSENT are truly distinct
    (present null satisfies required but fails type:'integer')."""
    df = spark.createDataFrame(
        [
            (1, '{"k": 15, "tags": ["a", "b"]}'),   # valid
            (2, '{"k": 5}'),                          # k minimum
            (3, '{"k": "x"}'),                        # k type
            (4, '{"tags": ["a", "a"]}'),              # required k + uniqueItems
            (5, '"just a string"'),                   # root type (not object)
            (6, '{"k": null}'),                       # k present (required ok) but VOID -> k type
            (7, '{"k": 12, "a": 1, "b": 2, "c": 3}'), # maxProperties
            (8, 'null'),                              # JSON null -> root type
            (9, None),                                # ABSENT -> vacuous
        ],
        "rid long, js string",
    )
    df = df.select("rid", F.parse_json("js").alias("v"))
    doc = {
        "type": "object",
        "properties": {
            "v": {
                "type": "object",
                "required": ["k"],
                "maxProperties": 3,
                "properties": {
                    "k": {"type": "integer", "minimum": 10},
                    "tags": {
                        "type": "array",
                        "items": {"type": "string"},
                        "uniqueItems": True,
                        "minItems": 1,
                    },
                },
            }
        },
    }
    v = _violated(validate(df, doc), "rid")
    assert v == {
        2: {"minimum"},
        3: {"type"},
        4: {"required", "uniqueItems"},
        5: {"type"},
        6: {"type"},
        7: {"maxProperties"},
        8: {"type"},
    }


def test_variant_mixed_enum_and_const(spark):
    """Deep-equality enum over variants: numeric members match across JSON
    number representations; composite members compare via canonical JSON."""
    df = spark.createDataFrame(
        [
            (1, "1"), (2, '"two"'), (3, "null"), (4, "[1,2]"),
            (5, "2"), (6, '"TWO"'), (7, "1.0"), (8, '[1, 2]'),
        ],
        "rid long, js string",
    )
    df = df.select("rid", F.parse_json("js").alias("v"))
    doc = {"properties": {"v": {"enum": [1, "two", None, [1, 2]]}}}
    v = _violated(validate(df, doc), "rid")
    assert v == {5: {"enum"}, 6: {"enum"}}


def test_variant_object_array_gates(spark):
    """Object/array applicability on variants: empty containers keep their
    kind, JSON null and scalars are neither, a nested object is an object,
    and array keywords pass vacuously on everything that is not an array."""
    df = spark.createDataFrame(
        [
            (1, "{}"), (2, "[]"), (3, "null"),
            (4, '{"a": {"b": [1, {"c": 2}]}}'), (5, "[1, [2, 3]]"),
            (6, "7"), (7, '"s"'), (8, None),
        ],
        "rid long, js string",
    ).select("rid", F.parse_json("js").alias("v"))

    def violated(sub):
        return _violated(validate(df, {"properties": {"v": sub}}), "rid")

    assert violated({"type": "object"}) == {
        r: {"type"} for r in (2, 3, 5, 6, 7)
    }
    assert violated({"type": "array", "maxItems": 1}) == {
        1: {"type"}, 3: {"type"}, 4: {"type"}, 5: {"maxItems"},
        6: {"type"}, 7: {"type"},
    }
    assert violated({"type": ["object", "array"]}) == {
        r: {"type"} for r in (3, 6, 7)
    }
    assert violated({"maxItems": 0}) == {5: {"maxItems"}}


def test_dynamic_ref_recursive_tree(spark):
    """$dynamicRef lexical-scope subset: a recursive meta-schema-style
    document evaluates with bounded unroll, exactly like a cyclic $ref
    (parity-plus: the reference never resolves $dynamic* at all)."""
    doc = {
        "$id": "https://example.com/tree.schema.json",
        "$dynamicAnchor": "node",
        "type": "object",
        "properties": {
            "value": {"type": "integer", "minimum": 0},
            "children": {"type": "array", "items": {"$dynamicRef": "#node"}},
        },
    }
    rows = [
        (1, (5, [(3, []), (2, [])])),     # all valid
        (2, (5, [(-1, [])])),             # nested child violates minimum
        (3, (-7, [])),                    # root-level violation
    ]
    schema_str = (
        "rid long, v struct<value int, children array<"
        "struct<value int, children array<struct<value int, children array<int>>>>>>"
    )
    df = spark.createDataFrame(rows, schema_str)
    wrapped = {"properties": {"v": doc}}
    v = _violated(validate(df, wrapped), "rid")
    assert 1 not in v
    # nested child violations surface at the items applicator (leaf checks
    # inside a higher-order lambda roll up, as with any inlined $ref)
    assert 2 in v and any(("items" in k or "minimum" in k) for k in v[2])
    assert 3 in v and any("minimum" in k for k in v[3])


def test_dynamic_ref_outermost_anchor_wins(spark):
    """The root document's $dynamicAnchor overrides a deeper one with the
    same name — the meta-schema extension pattern (dynamic scope, not
    lexical nearest)."""
    doc = {
        # root tightens the "ext" slot to integers >= 10
        "$dynamicAnchor": "ext",
        "minimum": 10,
        "allOf": [
            {
                "$defs": {
                    "inner": {
                        # inner declaration would allow anything >= 0
                        "$dynamicAnchor": "ext",
                        "minimum": 0,
                    }
                },
                "$dynamicRef": "#ext",
            }
        ],
    }
    df = spark.createDataFrame([(1, 50), (2, 5), (3, -1)], "rid long, v int")
    v = _violated(validate(df, {"properties": {"v": doc}}), "rid")
    # 5 passes the inner (lexical-nearest) anchor but must FAIL the
    # outermost one; a lexical-$ref misreading would let rid=2 through.
    assert 1 not in v
    assert 2 in v and 3 in v


def test_dynamic_ref_falls_back_to_plain_anchor(spark):
    """No matching $dynamicAnchor: per 2020-12, $dynamicRef degrades to
    plain $ref resolution against a normal $anchor."""
    doc = {
        "$defs": {"pos": {"$anchor": "pos", "minimum": 1}},
        "properties": {"v": {"$dynamicRef": "#pos"}},
    }
    df = spark.createDataFrame([(1, 5), (2, 0)], "rid long, v int")
    v = _violated(validate(df, doc), "rid")
    assert v == {2: {"minimum"}}


def test_dynamic_ref_binds_within_ref_resource_not_globally(spark):
    """Winner selection is per resource: a shallower same-named anchor in
    an EMBEDDED resource must not shadow the root resource's anchor (the
    dynamic scope rooted at the document never enters the embedded
    resource). Regression for the round-2 review finding."""
    doc = {
        "$defs": {
            "sub": {
                "$id": "https://example.com/sub.schema.json",
                "$dynamicAnchor": "T",
                "type": "string",
            },
            "deep": {"$defs": {"x": {"$dynamicAnchor": "T", "minimum": 10}}},
        },
        "properties": {"v": {"$dynamicRef": "#T"}},
    }
    df = spark.createDataFrame([(1, 50), (2, 5)], "rid long, v int")
    # must bind to the ROOT resource's anchor (minimum 10), not /sub's
    v = _violated(validate(df, doc), "rid")
    assert 1 not in v
    assert 2 in v and any("minimum" in k for k in v[2])


def test_dynamic_ref_external_uri_rejected_under_strict(spark):
    import pytest as _pytest

    from jsonschema_spark.plans.compile import CompileError

    doc = {"properties": {"v": {"$dynamicRef": "https://other.example/x#frag"}}}
    df = spark.createDataFrame([(1, 5)], "rid long, v int")
    with _pytest.raises(CompileError):
        validate(df, doc)


def test_variant_unevaluated_items(spark):
    """unevaluatedItems must evaluate on VARIANT arrays (ADVICE r1: it was
    silently dropped — fail-open). Mirrors the static ArrayType annotation
    flow: prefixItems cover their positions; a successfully-validating
    allOf branch's items annotation covers everything; failing branches
    drop annotations."""
    df = spark.createDataFrame(
        [
            (1, '["a", 1]'),          # prefix covers [0]; 1 unevaluated -> fail
            (2, '["a"]'),             # fully covered by prefix
            (3, '["a", "b"]'),        # "b" unevaluated -> fail (uneval: false)
            (4, '"not an array"'),    # inapplicable -> vacuous pass
            (5, "[]"),                # empty -> pass
            (6, None),                # absent -> vacuous
        ],
        "rid long, js string",
    )
    df = df.select("rid", F.parse_json("js").alias("v"))
    doc = {
        "properties": {
            "v": {
                "prefixItems": [{"type": "string"}],
                "unevaluatedItems": False,
            }
        }
    }
    v = _violated(validate(df, doc), "rid")
    assert v == {1: {"unevaluatedItems"}, 3: {"unevaluatedItems"}}

    # annotation flow: an allOf branch with items covers ALL elements when
    # the branch validates; when it fails, its annotation is dropped
    doc2 = {
        "properties": {
            "v": {
                "allOf": [{"items": {"type": "string"}}],
                "unevaluatedItems": False,
            }
        }
    }
    df2 = spark.createDataFrame(
        [(1, '["a", "b"]'), (2, '["a", 7]')], "rid long, js string"
    ).select("rid", F.parse_json("js").alias("v"))
    v2 = _violated(validate(df2, doc2), "rid")
    # row 1: branch passes -> all evaluated. row 2: branch fails (7 not a
    # string) -> annotations dropped -> both elements unevaluated.
    assert 1 not in v2
    assert "unevaluatedItems" in v2[2]


def test_variant_format_and_content_assertions(spark):
    """format (assert_formats), contentEncoding and contentSchema assert on
    variant STRING instances, gated on the runtime type (ADVICE r1: the
    static-string path asserted these while variants silently skipped)."""
    from jsonschema_spark.plans.compile import CompileOptions

    df = spark.createDataFrame(
        [
            (1, '"2024-03-01"'),   # valid date string
            (2, '"not-a-date"'),   # format violation
            (3, "42"),             # number -> format inapplicable, passes
            (4, "null"),           # JSON null -> inapplicable
        ],
        "rid long, js string",
    )
    df = df.select("rid", F.parse_json("js").alias("v"))
    doc = {"properties": {"v": {"format": "date"}}}
    v = _violated(validate(df, doc, CompileOptions(assert_formats=True)), "rid")
    assert v == {2: {"format"}}

    df2 = spark.createDataFrame(
        [
            (1, '"eyJrIjogNDJ9"'),  # base64 of {"k": 42} -> all pass
            (2, '"!!!"'),           # not base64
            (3, "7"),               # number -> vacuous
        ],
        "rid long, js string",
    ).select("rid", F.parse_json("js").alias("v"))
    doc2 = {
        "properties": {
            "v": {
                "contentEncoding": "base64",
                "contentMediaType": "application/json",
                "contentSchema": {
                    "type": "object",
                    "required": ["k"],
                    "properties": {"k": {"minimum": 10}},
                },
            }
        }
    }
    v2 = _violated(validate(df2, doc2), "rid")
    assert v2 == {2: {"contentEncoding", "contentSchema"}}


def test_content_schema_variant_fallback(spark):
    """contentSchema whose document has no single static Spark type (scalar
    roots, mixed-type unions) parses to a VARIANT and evaluates through the
    runtime-typed path instead of being skipped."""
    from pyspark.sql import Row

    doc = {
        "type": "object",
        "properties": {
            "payload": {
                "type": "string",
                "contentMediaType": "application/json",
                "contentSchema": {
                    "anyOf": [
                        {"type": "integer", "minimum": 10},
                        {"type": "string", "minLength": 3},
                    ]
                },
            }
        },
    }
    df = spark.createDataFrame(
        [
            Row(rid=1, payload="42"),          # integer branch
            Row(rid=2, payload='"hello"'),     # string branch
            Row(rid=3, payload="5"),           # fails both branches
            Row(rid=4, payload='"ab"'),        # too short
            Row(rid=5, payload="not json"),    # parse failure
            Row(rid=6, payload="[1,2]"),       # array matches neither
            Row(rid=7, payload=None),          # absent -> vacuous
        ],
        "rid long, payload string",
    )
    v = _violated(validate(df, doc), "rid")
    assert v == {
        3: {"contentSchema"},
        4: {"contentSchema"},
        5: {"contentSchema"},
        6: {"contentSchema"},
    }


def test_metadata_report(spark):
    """Metadata vocabulary (schema.go:133-139) carries through compile and
    surfaces as (pointer, keyword, value) records with zero row-time cost."""
    from pyspark.sql import types as TT

    from jsonschema_spark.plans.compile import compile_schema

    doc = Schema.from_value(
        {
            "title": "clips",
            "properties": {
                "old_id": {"type": "integer", "deprecated": True,
                           "description": "legacy key"},
                "sr_hz": {"default": 16000, "examples": [8000, 16000]},
            },
        }
    )
    struct = TT.StructType(
        [TT.StructField("old_id", TT.LongType()), TT.StructField("sr_hz", TT.IntegerType())]
    )
    compiled = compile_schema(doc, struct)
    got = {(r["pointer"], r["keyword"]): r["value"] for r in compiled.metadata_report()}
    assert got[("/", "title")] == "clips"
    assert got[("/properties/old_id", "deprecated")] is True
    assert got[("/properties/old_id", "description")] == "legacy key"
    assert got[("/properties/sr_hz", "default")] == 16000
    assert got[("/properties/sr_hz", "examples")] == [8000, 16000]


def test_examples_two_phase_exact(spark):
    """examples(): k deterministic rows per violation group; the salted
    two-phase top-k must equal the single-phase result exactly."""
    from pyspark.sql import types as T

    schema = T.StructType([
        T.StructField("id", T.LongType(), False),
        T.StructField("v", T.IntegerType(), True),
    ])
    # 50 rows violating minimum, 2 violating maximum
    rows = [Row(id=i, v=-i) for i in range(1, 51)]
    rows += [Row(id=100 + i, v=1000 + i) for i in range(2)]
    df = spark.createDataFrame(rows, schema)
    doc = {"type": "object",
           "properties": {"v": {"minimum": 0, "maximum": 500}}}
    res = validate(df, doc)
    ex = res.examples(["id"], k=5, salt_buckets=16).collect()
    by_kw = {}
    for r in ex:
        by_kw.setdefault(r.keyword, []).append((r.rank, r.id))
    assert len(by_kw["minimum"]) == 5          # capped at k
    assert len(by_kw["maximum"]) == 2          # fewer than k -> all
    assert sorted(r for r, _ in by_kw["minimum"]) == [1, 2, 3, 4, 5]
    # two-phase == single-phase (salt_buckets=1 degenerates to one window)
    plain = res.examples(["id"], k=5, salt_buckets=1).collect()
    assert sorted((r.keyword, r.rank, r.id) for r in plain) == \
           sorted((r.keyword, r.rank, r.id) for r in ex)
    # deterministic under re-run
    again = res.examples(["id"], k=5, salt_buckets=16).collect()
    assert sorted((r.keyword, r.rank, r.id) for r in again) == \
           sorted((r.keyword, r.rank, r.id) for r in ex)


def test_type_union_with_null_still_rejects_mismatched_values(spark):
    """{"type": ["integer", "null"]} over an ARRAY column: null passes,
    any non-null array fails. "null" in the union must not waive the
    type check for present values (fuzz-caught in round 3 — the
    compiler used to fold the whole check to statically-true whenever
    "null" appeared in the union)."""
    import pyspark.sql.types as T

    from jsonschema_spark.operators.validate import validate

    df = spark.createDataFrame(
        [(0, None), (1, []), (2, [5])],
        T.StructType([
            T.StructField("rid", T.LongType()),
            T.StructField("arr", T.ArrayType(T.LongType())),
        ]),
    )
    schema = {
        "type": "object",
        "patternProperties": {"^a": {"type": ["integer", "null"]}},
    }
    got = {
        r["rid"]: r["_valid"]
        for r in validate(df, schema).annotated.select("rid", "_valid").collect()
    }
    assert got == {0: True, 1: False, 2: False}
    # and the union still passes when a member DOES match the column
    ok = {
        "type": "object",
        "properties": {"rid": {"type": ["integer", "null"]}},
    }
    vals = [r["_valid"] for r in validate(df, ok).annotated.collect()]
    assert vals == [True, True, True]


def test_dynamic_ref_cross_resource_outer_wins(spark):
    """FULL cross-resource $dynamicRef (r3): a $dynamicRef inside an
    embedded resource binds to the OUTERMOST $dynamicAnchor in its
    dynamic scope — the ROOT resource's declaration overrides the
    embedded resource's local one (the spec's tree/strict-tree
    extension pattern). The round-2 lexical subset rejected this;
    worse, a per-resource binding would have let rid=2 pass."""
    doc = {
        "$defs": {
            "ext_root": {"$dynamicAnchor": "ext", "minimum": 10},
            "sub": {
                "$id": "https://example.com/dyn-sub",
                "$defs": {
                    "ext_local": {"$dynamicAnchor": "ext", "minimum": 0}
                },
                "$dynamicRef": "#ext",
            },
        },
        "properties": {"v": {"$ref": "#/$defs/sub"}},
    }
    df = spark.createDataFrame([(1, 50), (2, 5), (3, -1)], "rid long, v int")
    v = _violated(validate(df, doc), "rid")
    assert 1 not in v
    assert 2 in v and 3 in v  # the ROOT's minimum 10 applies


def test_dynamic_ref_cross_resource_local_when_outer_silent(spark):
    """When no outer resource declares the name, the embedded
    resource's own $dynamicAnchor wins (it is the outermost in scope)."""
    doc = {
        "$defs": {
            "sub": {
                "$id": "https://example.com/dyn-sub2",
                "$defs": {
                    "loc": {"$dynamicAnchor": "ext2", "maximum": 3}
                },
                "$dynamicRef": "#ext2",
            },
        },
        "properties": {"v": {"$ref": "#/$defs/sub"}},
    }
    df = spark.createDataFrame([(1, 2), (2, 9)], "rid long, v int")
    v = _violated(validate(df, doc), "rid")
    assert 1 not in v and 2 in v


def test_dynamic_ref_meta_schema_items_extension(spark):
    """The meta-schema shape: a reusable list resource validates its
    items through $dynamicRef '#items'; the root document overrides
    the item type by declaring its own $dynamicAnchor 'items'."""
    doc = {
        "$defs": {
            "root_items": {"$dynamicAnchor": "items", "type": "integer"},
            "list": {
                "$id": "https://example.com/dyn-list",
                "$defs": {
                    "default_items": {
                        "$dynamicAnchor": "items",
                        "type": "string",
                    }
                },
                "type": "array",
                "items": {"$dynamicRef": "#items"},
            },
        },
        "properties": {"arr": {"$ref": "#/$defs/list"}},
    }
    import pyspark.sql.types as T

    st = T.StructType([
        T.StructField("rid", T.LongType()),
        T.StructField("arr", T.ArrayType(T.LongType())),
    ])
    df = spark.createDataFrame([(1, [1, 2]), (2, None), (3, [7])], st)
    # LongType elements satisfy "integer" (the ROOT override); had the
    # list resource's local "string" anchor won, every row would fail
    v = _violated(validate(df, doc), "rid")
    assert not v
    # counter-proof: remove the root override -> local 'string' wins
    doc2 = {k: v2 for k, v2 in doc.items()}
    doc2["$defs"] = {"list": doc["$defs"]["list"]}
    v2 = _violated(validate(df, doc2), "rid")
    assert 1 in v2 and 3 in v2 and 2 not in v2


def test_dynamic_ref_cross_resource_recursion_bounded(spark):
    """A cross-resource recursive $dynamicRef (embedded list resource
    whose items dynamically re-enter the ROOT's node schema, which
    itself contains arrays of nodes) must compile via the bounded
    unroll — no infinite loop, levels beyond the bound accepted."""
    import pyspark.sql.types as T

    doc = {
        "$defs": {
            "node": {
                "$dynamicAnchor": "node",
                "type": "object",
                "properties": {
                    "kids": {"$ref": "#/$defs/list"},
                },
            },
            "list": {
                "$id": "https://example.com/dyn-rec-list",
                "type": "array",
                "items": {"$dynamicRef": "#node"},
                "$defs": {
                    "fallback": {
                        "$dynamicAnchor": "node",
                        "type": "string",
                    }
                },
            },
        },
        "properties": {"root": {"$ref": "#/$defs/node"}},
    }
    st = T.StructType([
        T.StructField("rid", T.LongType()),
        T.StructField(
            "root",
            T.StructType([
                T.StructField(
                    "kids",
                    T.ArrayType(T.StructType([
                        T.StructField("kids", T.ArrayType(T.StringType())),
                    ])),
                ),
            ]),
        ),
    ])
    df = spark.createDataFrame(
        [(1, ([([],)],)), (2, None)], st
    )
    from jsonschema_spark.operators.validate import validate

    # compiles (bounded unroll, outermost 'node' anchor wins at every
    # level) and nested objects satisfy the object-typed node schema
    v = _violated(validate(df, doc), "rid")
    assert not v
