"""Schema registry for the engine's core tables.

The reference enforces a fixed dtype registry after every extraction
(``/root/reference/src/blueetl/constants.py:34-47``, applied by
``ensure_dtypes`` ``utils.py:114-143``) to bound memory. In Spark we declare
the equivalent ``StructType`` per table and provide :func:`ensure_schema`
(cast + column-order canonicalization) plus validation helpers mirroring the
``COLUMNS``/``_allow_missing_columns``/``_allow_extra_columns`` contract of
``/root/reference/src/blueetl/extract/base.py:18-59``.

Mapping (SURVEY §1.3): gid→Long, times/offsets→Double,
simulation_id/circuit_id/trial→Short, neuron_class/window→String,
ragged `times`→Array(Double), nested gids/query→native Array/String(JSON).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

# Canonical column names (mirrors reference constants.py naming).
SIMULATION_ID = "simulation_id"
CIRCUIT_ID = "circuit_id"
NEURON_CLASS = "neuron_class"
GID = "gid"
WINDOW = "window"
TRIAL = "trial"
TIME = "time"

SIMULATIONS_SCHEMA = T.StructType(
    [
        T.StructField("simulation_id", T.ShortType(), False),
        T.StructField("circuit_id", T.ShortType(), False),
        T.StructField("simulation_path", T.StringType(), False),
        # campaign condition columns (seed, ca, ...) are allowed extras
    ]
)

NEURONS_SCHEMA = T.StructType(
    [
        T.StructField("circuit_id", T.ShortType(), False),
        T.StructField("neuron_class", T.StringType(), False),
        T.StructField("gid", T.LongType(), False),
        T.StructField("neuron_class_index", T.LongType(), False),
    ]
)

NEURON_CLASSES_SCHEMA = T.StructType(
    [
        T.StructField("circuit_id", T.ShortType(), False),
        T.StructField("neuron_class", T.StringType(), False),
        T.StructField("count", T.LongType(), False),
        T.StructField("limit", T.LongType(), True),
        T.StructField("population", T.StringType(), True),
        T.StructField("node_set", T.StringType(), True),
        T.StructField("gids", T.ArrayType(T.LongType()), True),
        T.StructField("query", T.StringType(), True),  # JSON-encoded query dict
    ]
)

WINDOWS_SCHEMA = T.StructType(
    [
        T.StructField("simulation_id", T.ShortType(), False),
        T.StructField("circuit_id", T.ShortType(), False),
        T.StructField("window", T.StringType(), False),
        T.StructField("trial", T.ShortType(), False),
        T.StructField("offset", T.DoubleType(), False),
        T.StructField("t_start", T.DoubleType(), False),
        T.StructField("t_stop", T.DoubleType(), False),
        T.StructField("t_step", T.DoubleType(), False),
        T.StructField("duration", T.DoubleType(), False),
        T.StructField("window_type", T.StringType(), True),
    ]
)

# report (spikes flavor); soma adds `value`, compartment adds `section,value`
SPIKES_REPORT_SCHEMA = T.StructType(
    [
        T.StructField("time", T.DoubleType(), False),
        T.StructField("gid", T.LongType(), False),
        T.StructField("window", T.StringType(), False),
        T.StructField("trial", T.ShortType(), False),
        T.StructField("simulation_id", T.ShortType(), False),
        T.StructField("circuit_id", T.ShortType(), False),
        T.StructField("neuron_class", T.StringType(), False),
    ]
)

SOMA_REPORT_SCHEMA = T.StructType(
    SPIKES_REPORT_SCHEMA.fields + [T.StructField("value", T.DoubleType(), False)]
)

COMPARTMENT_REPORT_SCHEMA = T.StructType(
    SPIKES_REPORT_SCHEMA.fields
    + [
        T.StructField("section", T.LongType(), False),
        T.StructField("value", T.DoubleType(), False),
    ]
)

SCHEMAS: dict[str, T.StructType] = {
    "simulations": SIMULATIONS_SCHEMA,
    "neurons": NEURONS_SCHEMA,
    "neuron_classes": NEURON_CLASSES_SCHEMA,
    "windows": WINDOWS_SCHEMA,
    "report": SPIKES_REPORT_SCHEMA,
    "soma_report": SOMA_REPORT_SCHEMA,
    "compartment_report": COMPARTMENT_REPORT_SCHEMA,
}


class SchemaError(ValueError):
    """Raised when a DataFrame violates a declared table contract."""


def ensure_schema(
    df: DataFrame,
    schema: T.StructType,
    *,
    allow_extra_columns: bool = False,
    allow_missing_columns: bool = False,
) -> DataFrame:
    """Cast declared columns to their registry types and canonicalize order.

    Declared columns come first in schema order; extra columns (campaign
    condition params etc.) keep their original relative order after them.
    Mirrors the reference's ``ensure_dtypes`` + ``BaseExtractor`` validation.
    """
    declared = {f.name: f.dataType for f in schema.fields}
    present = set(df.columns)
    missing = [n for n in declared if n not in present]
    extra = [c for c in df.columns if c not in declared]
    if missing and not allow_missing_columns:
        raise SchemaError(f"missing columns: {missing}")
    if extra and not allow_extra_columns:
        raise SchemaError(f"unexpected extra columns: {extra}")
    cols = [
        F.col(n).cast(t).alias(n) for n, t in declared.items() if n in present
    ] + [F.col(c) for c in extra]
    return df.select(cols)


def require_integral(df: DataFrame, *cols: str, op: str) -> None:
    """Raise when any named column is fractional (float/double, or
    decimal with a nonzero scale). The engine-exact estimators (cuped,
    jackknife_ratio, target_encode_kfold, mann_whitney's designed
    path, ...) cast their value columns to BIGINT so every sum is
    exact; on a fractional input that cast TRUNCATES (0.9 -> 0) and
    produces confidently wrong moments. The integer-quantization
    precondition is documented on each operator — this makes it
    enforced (ADVICE r11): quantize upstream (e.g. cents via
    ``F.round(col * 100).cast('long')``) and pass the integer column.
    """
    dtypes = dict(df.dtypes)
    for c in cols:
        t = dtypes.get(c)
        if t is None:
            raise SchemaError(f"{op}: column {c!r} not found in frame")
        base = t.split("(")[0]
        fractional = base in ("float", "double") or (
            base == "decimal" and "," in t and t.rstrip(")").split(",")[-1].strip() != "0"
        )
        if fractional:
            raise SchemaError(
                f"{op}: column {c!r} has fractional type {t}; the "
                "engine-exact BIGINT moments would silently truncate "
                "(0.9 -> 0). Quantize to integer units upstream "
                "(e.g. F.round(col * 100).cast('long') for cents) and "
                "pass the integer column."
            )
