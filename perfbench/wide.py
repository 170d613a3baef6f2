"""Seeded wide-schema workload: a generated JSON Schema of many properties
over a narrow generated table, with planted violations whose totals follow
from the generator alone.

Kinds and ``$ref`` use follow a fixed round-robin, so every seed yields the
same schema shape and only its values change. A row breaks property ``k`` exactly
when ``(id + offset_k) % modulus_k == 0``, and a broken value fails exactly
one keyword of that property, so the expected ``violation_count`` of a row
is the number of properties planted on it. ``expected_totals`` counts that
with numpy; the engine never sees the plan of plants, only the table.
"""

from __future__ import annotations

import random
import string

import numpy as np

KINDS = ("int_range", "num_excl", "enum", "pattern", "not_const",
         "max_len", "multiple_of")
_WORDS = ("alpha", "bravo", "delta", "gamma", "kappa", "omega", "sigma",
          "theta", "zeta", "lambda", "tau", "rho")
_MODULI = (53, 59, 61, 67, 71, 73, 79, 83, 89, 97, 101, 103, 107, 109, 113,
           127, 131, 137, 139, 149, 151, 157, 163, 167, 173, 179, 181, 191)


class WideSpec:
    """The seeded schema document, the column recipe and the plant plan."""

    def __init__(self, seed: int, n_props: int, n_rows: int):
        rng = random.Random(seed)
        self.n_rows = n_rows
        self.start = rng.randrange(0, 10**9)
        self.props = []  # (name, kind, params, modulus, offset, via_ref)
        defs = {}
        for k in range(n_props):
            kind = KINDS[k % len(KINDS)]
            params = _params(kind, rng)
            via_ref = k % 3 == 1
            name = f"p{k:03d}"
            if via_ref:
                defs[f"d_{name}"] = _subschema(kind, params)
            self.props.append(
                (name, kind, params, rng.choice(_MODULI), rng.randrange(0, 1000),
                 via_ref)
            )
        # a chain of pure $ref aliases exercises multi-hop resolution
        aliased = [p for p in self.props if p[5]]
        for j, p in enumerate(aliased[:6]):
            defs[f"alias{j}"] = {"$ref": f"#/$defs/d_{p[0]}"}
        alias_of = {p[0]: f"alias{j}" for j, p in enumerate(aliased[:6])}
        properties = {}
        for name, kind, params, _, _, via_ref in self.props:
            if name in alias_of:
                properties[name] = {"$ref": f"#/$defs/{alias_of[name]}"}
            elif via_ref:
                properties[name] = {"$ref": f"#/$defs/d_{name}"}
            else:
                properties[name] = _subschema(kind, params)
        required = sorted(rng.sample([p[0] for p in self.props], n_props // 3))
        self.schema = {
            "$id": f"https://example.com/wide-{seed}.schema.json",
            "type": "object",
            "$defs": defs,
            "required": required,
            "properties": properties,
            "additionalProperties": False,
        }

    def dataframe(self, spark, partitions: int):
        from pyspark.sql import functions as F

        base = spark.range(self.start, self.start + self.n_rows, 1, partitions)
        cols = []
        for name, kind, params, mod, off, _ in self.props:
            bad = ((F.col("id") + off) % mod) == 0
            good, broken = _values(kind, params, F.col("id"))
            cols.append(F.when(bad, broken).otherwise(good).alias(name))
        return base.select(*cols)

    def expected_totals(self) -> dict:
        ids = np.arange(self.start, self.start + self.n_rows, dtype=np.int64)
        per_row = np.zeros(self.n_rows, dtype=np.int64)
        for _, _, _, mod, off, _ in self.props:
            per_row += ((ids + off) % mod) == 0
        failed = int(np.count_nonzero(per_row))
        return {"rows": self.n_rows, "passed": self.n_rows - failed,
                "failed": failed, "violation_count": int(per_row.sum())}


def _params(kind: str, rng: random.Random) -> dict:
    if kind == "int_range":
        lo = rng.randrange(-1000, 1000)
        return {"lo": lo, "hi": lo + rng.randrange(10, 10000)}
    if kind == "num_excl":
        lo = rng.randrange(-100, 100)
        return {"lo": lo, "hi": lo + rng.randrange(5, 500)}
    if kind == "enum":
        return {"values": sorted(rng.sample(_WORDS, rng.randrange(3, 8)))}
    if kind == "pattern":
        return {"prefix": "".join(rng.choice(string.ascii_lowercase) for _ in range(3)),
                "digits": rng.randrange(3, 7)}
    if kind == "not_const":
        return {"banned": rng.choice(_WORDS) + "-banned"}
    if kind == "max_len":
        return {"max": rng.randrange(8, 24)}
    return {"k": rng.randrange(2, 13)}  # multiple_of


def _subschema(kind: str, p: dict) -> dict:
    if kind == "int_range":
        return {"type": "integer", "minimum": p["lo"], "maximum": p["hi"]}
    if kind == "num_excl":
        return {"type": "number", "exclusiveMinimum": p["lo"], "maximum": p["hi"]}
    if kind == "enum":
        return {"enum": p["values"]}
    if kind == "pattern":
        return {"type": "string",
                "pattern": f"^{p['prefix']}-[0-9]{{{p['digits']}}}$"}
    if kind == "not_const":
        return {"type": "string", "not": {"const": p["banned"]}}
    if kind == "max_len":
        return {"type": "string", "maxLength": p["max"]}
    return {"type": "integer", "multipleOf": p["k"]}


def _values(kind: str, p: dict, i):
    """(valid value, value failing exactly one keyword) as Spark columns."""
    from pyspark.sql import functions as F

    if kind == "int_range":
        span = p["hi"] - p["lo"] + 1
        return F.lit(p["lo"]) + (i * 7919) % span, F.lit(p["hi"]) + 1 + i % 5
    if kind == "num_excl":
        span = p["hi"] - p["lo"] - 1
        good = F.lit(float(p["lo"]) + 0.5) + ((i * 31) % (span * 4)) / 4.0
        return good, F.lit(float(p["lo"]))
    if kind == "enum":
        vals = F.array(*[F.lit(v) for v in p["values"]])
        return (F.element_at(vals, (i % len(p["values"]) + 1).cast("int")),
                F.concat(F.lit("x-"), (i % 9).cast("string")))
    if kind == "pattern":
        mod = 10 ** p["digits"]
        good = F.concat(F.lit(p["prefix"] + "-"),
                        F.lpad((i % mod).cast("string"), p["digits"], "0"))
        return good, F.concat(F.lit(p["prefix"].upper() + "_"), (i % 97).cast("string"))
    if kind == "not_const":
        return F.concat(F.lit("v"), (i % 1009).cast("string")), F.lit(p["banned"])
    if kind == "max_len":
        good = F.substring(F.sha2(i.cast("string"), 256), 1, p["max"])
        return good, F.lit("y" * (p["max"] + 1))
    return i * p["k"], i * p["k"] + 1  # multiple_of
