"""Declarative data-quality gate (SURVEY.md §2.11, §7 step 4).

Re-expresses the reference's Great Expectations suite
(``ge/validate_raw_weather.py:139-189`` in ``/root/reference/``) as a spec →
single-pass aggregate compiler:

- every expectation compiles to one violation-counting aggregate column;
- ALL expectations are evaluated in one scan, with no per-expectation
  passes (GE evaluates per-expectation; at 100 TB that multiplier is the
  difference between one scan and eight). :func:`dq_gate` attaches them
  as an ``Observation`` to one ``noop`` write, which is one Spark job;
  :func:`compile_expectations` returns them as an ``agg()``, which under
  AQE runs as two jobs (the shuffle stage, then the final aggregate);
- ``between`` ignores nulls, exactly like GE: a null value passes a bounds
  check and only fails an explicit ``not_null`` (parity detail, SURVEY §2.11);
- ``mostly`` thresholds generalize pass/fail to
  ``violations / element_count <= 1 - mostly`` where ``element_count``
  follows GE's unexpected_percent denominator: NON-NULL values for
  value-based checks (between/in_set/unique — nulls are not elements of
  those domains), all rows for ``not_null``;
- on failure, :func:`dq_gate` raises :class:`DQValidationError` so the
  downstream load never runs — the blocking semantics of
  ``etl_openmeteo.py:135-149`` (T6).
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from endtoend_etl_openmeteo_spark.session import local_rows


@dataclass(frozen=True)
class Expectation:
    """One declarative expectation over a column.

    kind: ``not_null`` | ``between`` | ``unique`` | ``in_set``.
    ``mostly``: minimum fraction of rows that must pass (GE semantics);
    1.0 = strict.
    """

    kind: str
    column: str
    lo: float | None = None
    hi: float | None = None
    values: tuple | None = None
    mostly: float = 1.0

    @property
    def name(self) -> str:
        if self.kind == "between":
            return f"between_{self.column}_{self.lo}_{self.hi}"
        return f"{self.kind}_{self.column}"


class DQValidationError(ValueError):
    """Raised by dq_gate when any expectation fails — blocks downstream load."""

    def __init__(self, failures: list[dict]):
        self.failures = failures
        summary = "; ".join(
            f"{f['expectation']} on {f['col_name']}: {f['violations']}/{f['n_rows']} violations"
            for f in failures
        )
        super().__init__(f"data-quality gate failed ({len(failures)} expectations): {summary}")


def _violation_count(e: Expectation) -> Column:
    col = F.col(e.column)
    if e.kind == "not_null":
        cond = col.isNull()
    elif e.kind == "between":
        # NOT BETWEEN is null for null inputs -> count() skips them,
        # matching GE's null-ignoring bounds check.
        cond = ~col.between(e.lo, e.hi)
    elif e.kind == "in_set":
        cond = ~col.isin(*e.values)
    elif e.kind == "unique":
        # violations = non-null rows beyond the first per distinct value —
        # the number of rows a dedup would DROP to restore uniqueness.
        # DELIBERATE divergence from GE, which counts every member of a
        # duplicated group (a value appearing 11 times is 11 unexpected
        # rows to GE, 10 here — GE's mostly gate is stricter by one row
        # per duplicated value). GE's numerator needs a per-value group-by
        # and would break this module's one-scan compile; the reference's
        # own suite (REFERENCE_WEATHER_SUITE) carries no unique
        # expectation, so §2.11 parity is unaffected.
        return F.count(col) - F.count_distinct(col)
    else:
        raise ValueError(f"unsupported expectation kind {e.kind!r}")
    return F.count(F.when(cond, 1))


def _element_count(e: Expectation) -> Column:
    """GE's unexpected_percent denominator: value-based checks measure
    over NON-NULL values (a null is not an element of the bounds/set
    domain — it neither passes nor fails); not_null measures over all
    rows. Dividing by total row count instead would make `mostly` gates
    LAXER than the GE suite they claim parity with whenever the column
    has nulls."""
    if e.kind == "not_null":
        return F.count(F.lit(1))
    return F.count(F.col(e.column))


#: Schema of the per-expectation results (compile_expectations, dq_gate).
RESULT_SCHEMA = (
    "expectation string, col_name string, violations long, n_rows long, "
    "passed boolean"
)


def compile_expectations(df: DataFrame, expectations: list[Expectation]) -> DataFrame:
    """Compile a suite into ONE aggregate pass.

    Returns a long-format DataFrame:
    (expectation string, col_name string, violations long, n_rows long,
    passed boolean) — one row per expectation.
    """
    if not expectations:
        # stack(lit(0)) with no value columns fails analysis — an empty
        # suite passes vacuously (zero rows), it doesn't crash the stream
        return local_rows(df.sparkSession, [], RESULT_SCHEMA)
    aggs = (
        [F.count(F.lit(1)).alias("n_rows")]
        + [_violation_count(e).alias(f"v{i}") for i, e in enumerate(expectations)]
        + [_element_count(e).alias(f"n{i}") for i, e in enumerate(expectations)]
    )
    metrics = df.agg(*aggs)

    stack_args: list[Column] = []
    for i, e in enumerate(expectations):
        stack_args += [
            F.lit(e.name),
            F.lit(e.column),
            F.col(f"v{i}"),
            F.lit(e.mostly),
            F.col(f"n{i}"),
        ]
    n = len(expectations)
    return metrics.select(
        F.stack(
            F.lit(n), *stack_args
        ).alias("expectation", "col_name", "violations", "mostly", "elements"),
        "n_rows",
    ).select(
        "expectation",
        "col_name",
        "violations",
        "n_rows",
        # violations/elements <= 1 - mostly (strict when mostly=1.0);
        # the threshold rounds to 9dp so binary-float artifacts of
        # 1.0 - mostly (1-0.8 = 0.19999...96) can't flip an exact-boundary
        # verdict
        (
            (
                F.col("violations").cast("double")
                / F.greatest(F.col("elements"), F.lit(1))
            )
            <= F.round(F.lit(1.0) - F.col("mostly"), 9)
        ).alias("passed"),
    )


def row_violation_predicate(expectations: list[Expectation]) -> Column:
    """Boolean column: does THIS row violate any expectation?

    Mirrors _violation_count's null semantics (null values never violate
    bounds/set checks — only ``not_null`` fails them). ``unique`` is not a
    row-wise property (it needs the whole key's history) and is rejected:
    it belongs to the aggregate gate, not a row splitter.
    """
    import functools

    conds: list[Column] = []
    for e in expectations:
        col = F.col(e.column)
        if e.kind == "not_null":
            conds.append(col.isNull())
        elif e.kind == "between":
            conds.append(col.isNotNull() & ~col.between(e.lo, e.hi))
        elif e.kind == "in_set":
            conds.append(col.isNotNull() & ~col.isin(*e.values))
        elif e.kind == "unique":
            raise ValueError(
                "unique is an aggregate-level expectation; row-level "
                "splitting cannot attribute the violation to one row"
            )
        else:
            raise ValueError(f"unsupported expectation kind {e.kind!r}")
    return functools.reduce(lambda a, b: a | b, conds, F.lit(False))


def split_valid(
    df: DataFrame, expectations: list[Expectation]
) -> tuple[DataFrame, DataFrame]:
    """(valid_rows, violating_rows) — the quarantine split: rows failing ANY
    row-wise expectation divert instead of poisoning the load (the
    row-granular counterpart of dq_gate's all-or-nothing batch block).
    One narrow predicate, evaluated twice — no shuffle, no cache needed."""
    viol = row_violation_predicate(expectations)
    return df.filter(~viol), df.filter(viol)


def observe_expectations(df: DataFrame, expectations: list[Expectation]):
    """Attach the expectation metrics to df's NEXT action via
    ``DataFrame.observe`` — the metrics ride the write/collect itself, so
    monitoring costs ZERO extra scans (vs compile_expectations' dedicated
    aggregate pass). Returns ``(observed_df, observation)``; after an
    action runs, feed the observation to :func:`observation_results`.

    Attached to a load's own write this is a MONITOR: the action has
    already happened when the metrics surface, so it cannot block the
    load. :func:`dq_gate` attaches it to a scan of its own instead.
    ``unique`` is rejected (observe disallows distinct aggregates). The
    observation is unnamed (Spark gives it a random name), so it cannot
    clash with another observation on the same plan.
    """
    from pyspark.sql import Observation

    if any(e.kind == "unique" for e in expectations):
        raise ValueError("unique needs a distinct aggregate; observe() cannot")
    obs = Observation()
    aggs = (
        [F.count(F.lit(1)).alias("n_rows")]
        + [_violation_count(e).alias(f"v{i}") for i, e in enumerate(expectations)]
        + [_element_count(e).alias(f"n{i}") for i, e in enumerate(expectations)]
    )
    return df.observe(obs, *aggs), obs


def observation_results(obs, expectations: list[Expectation]) -> list[dict]:
    """Decode an Observation (after its action ran) into the same row shape
    compile_expectations produces (same GE element-count denominator)."""
    got = obs.get
    n = got["n_rows"]
    return [
        {
            "expectation": e.name,
            "col_name": e.column,
            "violations": got[f"v{i}"],
            "n_rows": n,
            "passed": (got[f"v{i}"] / max(got[f"n{i}"], 1))
            <= round(1.0 - e.mostly, 9),
        }
        for i, e in enumerate(expectations)
    ]


def dq_gate(df: DataFrame, expectations: list[Expectation]) -> DataFrame:
    """Run the suite; raise DQValidationError if any expectation fails.

    The suite rides one ``noop`` write over ``df`` as an observation
    (:func:`observe_expectations`), so the gate is one scan and one Spark
    job. Other observations attached to ``df`` are filled by the same
    scan. A suite with a ``unique`` expectation needs a distinct
    aggregate, which ``observe`` forbids, so it runs
    :func:`compile_expectations` instead (two jobs under AQE).

    On success, returns the results (one row per expectation,
    :data:`RESULT_SCHEMA`) as a local relation, so a consumer's
    show()/collect() cannot re-scan the (possibly 100 TB) input. On
    failure, ``DQValidationError.failures`` holds the failing rows as
    dicts with the same keys."""
    if not expectations or any(e.kind == "unique" for e in expectations):
        results = [r.asDict() for r in compile_expectations(df, expectations).collect()]
    else:
        observed, obs = observe_expectations(df, expectations)
        observed.write.format("noop").mode("overwrite").save()
        results = observation_results(obs, expectations)
    failures = [r for r in results if not r["passed"]]
    if failures:
        raise DQValidationError(failures)
    return local_rows(
        df.sparkSession, [tuple(r.values()) for r in results], RESULT_SCHEMA
    )


#: The reference's exact GE suite (ge/validate_raw_weather.py:143-168),
#: over the flattened validation records of schemas.VALIDATION_RECORD_SCHEMA.
REFERENCE_WEATHER_SUITE: list[Expectation] = [
    Expectation("not_null", "time"),
    Expectation("not_null", "city"),
    Expectation("not_null", "latitude"),
    Expectation("not_null", "longitude"),
    Expectation("not_null", "timezone"),
    Expectation("between", "temperature_2m", lo=-90.0, hi=60.0, mostly=1.0),
    Expectation("between", "precipitation", lo=0.0, hi=1000.0, mostly=1.0),
    Expectation("between", "wind_speed_10m", lo=0.0, hi=200.0, mostly=1.0),
]
