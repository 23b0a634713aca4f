"""Multi-way DLQ routing as a single Catalyst projection.

Reference semantics (``src/consumer.js:86-151`` of
inflect-framework/stream-processor): each record runs an ordered chain of
steps; if step *i* raises and the step has a DLQ topic, the **original
pre-chain record** is routed to that step's DLQ (``src/consumer.js:100``
returns ``{dlqMessage: message}`` — the chain *input*, not the partial
result); if it raises with no DLQ the record errors out.

Filter-null semantics, traced precisely: the reference's fold
(``consumer.js:88-109``) does NOT special-case a null return — the null
message simply becomes the next step's input, and since every reference
processor dereferences the message (``message.num``/``message.value``),
the NEXT step throws on it and routes to that step's DLQ/error. Only when
the CHAIN ENDS with a null message is the record counted as dropped
(``consumer.js:134-137``). This engine reproduces that exactly: a filter
drop mid-chain routes to the following step's failure label; a filter
drop at the end of the chain routes ``dropped``.

Spark-first formulation: instead of catching per-record exceptions (which in
Spark would fail the task), known failure modes are declared as
*fail-when predicates* and the whole chain compiles to ONE projection with a
``route`` column — Catalyst collapses the chain, predicates push down, and
the sinks become cheap ``filter(route == ...)`` branches over a shared scan.
No shuffle is introduced: routing is embarrassingly parallel, so at 100 TB
this costs one map pass regardless of chain length.

Route labels are spelled only here: ``ok``, ``dropped``, and per step
``dlq_<step>`` (the step has a DLQ topic) or ``error_<step>`` (it has
none). :func:`route_labels` lists every label a chain can emit from the
plan alone, so callers count and split routes without reading the data.

For *unanticipated* failures (arbitrary Python processors), see
``stream_processor_spark.pipeline.processors.ProcessorRegistry.
apply_python_chain`` which captures exceptions inside one ``mapInArrow``
pass and emits the same route column — failures become data, not task
aborts.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

Cols = dict[str, Column]

ROUTE_OK = "ok"
ROUTE_DROPPED = "dropped"
DLQ_PREFIX = "dlq_"
ERROR_PREFIX = "error_"


def failure_label(step_name: str, dlq_topic: str | None) -> str:
    """Route of a record whose step ``step_name`` throws: the step's DLQ
    when it has a topic, else a counted error."""
    return (DLQ_PREFIX if dlq_topic else ERROR_PREFIX) + step_name


def route_labels(names: list[str], dlq_topics: list[str | None]) -> list[str]:
    """Every route a chain of steps ``names`` can emit: ``ok``,
    ``dropped`` and each step's failure label, de-duplicated, in chain
    order. A filter dropping mid-chain takes the next step's label and a
    failed output check the last step's, so both are covered."""
    labels = [ROUTE_OK, ROUTE_DROPPED]
    for name, dlq_topic in zip(names, dlq_topics):
        label = failure_label(name, dlq_topic)
        if label not in labels:
            labels.append(label)
    return labels


@dataclass
class Step:
    """One chain step: optional failure predicate + column transforms.

    ``fail_when(cols)`` — predicate over the *current* (post-previous-steps)
    column values; true means the reference processor would have thrown
    (for ``is_filter`` steps: would have returned null). ``transform(cols)``
    — replacement expressions applied when the step succeeds. ``dlq`` names
    the step's DLQ sink (None → hard error route ``error_<name>``).
    """

    name: str
    transform: Callable[[Cols], Cols] = field(default=lambda cols: {})
    fail_when: Callable[[Cols], Column] | None = None
    is_filter: bool = False
    dlq: str | None = None

    def failure_label(self) -> str:
        """Route when this step THROWS (incl. throwing on a null record)."""
        return failure_label(self.name, self.dlq)


def apply_chain(df: DataFrame, steps: list[Step], out_prefix: str = "out_") -> DataFrame:
    """Compile a step chain to one projection with a ``route`` column.

    Returns the input columns untouched (the DLQ payload is the ORIGINAL
    record, per the reference) plus ``route`` and ``{out_prefix}{col}`` for
    every input and transformed column — the full output record, since the
    reference re-encodes the whole message (consumer.js:139). ``out_*`` is
    non-null only on ``route == 'ok'`` rows.

    Filter drops follow the reference's null-propagation (module docstring):
    mid-chain → the NEXT step's failure label (every reference processor
    throws on a null record); end-of-chain → ``dropped``.

    Expression-size note: fail flags and transforms are evaluated
    unconditionally (Spark expressions are pure and non-throwing — failure
    is *modeled* by the predicates, not raised), the route picks the FIRST
    failing step via one flat ``when`` chain, and outputs are gated once at
    the end. This keeps the generated code linear in chain length instead
    of exponential-in-nesting, which matters for janino compile time on
    long chains.
    """
    cur: Cols = {c: F.col(c) for c in df.columns}
    touched: set[str] = set()
    fails: list[tuple[Column, str]] = []

    for i, step in enumerate(steps):
        if step.fail_when is not None:
            if step.is_filter:
                # null return: next step throws on the null record
                # (consumer.js:88-109); chain end → dropped (:134-137)
                fail = F.coalesce(step.fail_when(cur), F.lit(False))
                label = (
                    ROUTE_DROPPED
                    if i == len(steps) - 1
                    else steps[i + 1].failure_label()
                )
            else:
                fail = F.coalesce(step.fail_when(cur), F.lit(True))
                label = step.failure_label()
            fails.append((fail, label))
        for name, expr in step.transform(cur).items():
            touched.add(name)
            cur[name] = expr

    route: Column = F.lit(ROUTE_OK)
    if fails:
        # chained when = first-match-wins = first failing step's label
        route = F.when(fails[0][0], F.lit(fails[0][1]))
        for fail, label in fails[1:]:
            route = route.when(fail, F.lit(label))
        route = route.otherwise(F.lit(ROUTE_OK))

    out_cols = [F.col(c) for c in df.columns]
    out_cols.append(route.alias("route"))
    out_names = list(df.columns) + sorted(n for n in touched if n not in df.columns)
    for name in out_names:
        out_cols.append(
            F.when(route == ROUTE_OK, cur[name]).alias(f"{out_prefix}{name}")
        )
    return df.select(*out_cols)
