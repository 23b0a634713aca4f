"""Engine-independent output checks for the pipeline workloads.

The expected outputs come from a pure-Python model of the reference's demo
chain ``add10 -> capitalize[dlq] -> appendString -> isEven`` with its
JavaScript null semantics: ``null + 10`` is 10, ``null + "_appended"`` is
``"null_appended"``, ``null.toUpperCase()`` throws (the record goes to the
step's DLQ with its ORIGINAL fields), and a record the final filter rejects
is dropped: counted, never written.
"""

from __future__ import annotations

import json
from collections import Counter, defaultdict
from dataclasses import dataclass, field

from gen import Message, avro_unframe

Record = tuple  # (key, value, num)


def run_chain(m: Message) -> tuple[str, Record]:
    """(route, record) for one message: route is ok | dlq_capitalize |
    dropped; the record is the transformed one for ok, else the original."""
    num = (0 if m.num is None else m.num) + 10  # add10
    if m.value is None:  # capitalize: toUpperCase on null throws
        return "dlq_capitalize", (m.key, m.value, m.num)
    value = m.value.upper() + "_appended"  # capitalize, appendString
    if num % 2 != 0:  # isEven: a filter returning null drops the record
        return "dropped", (m.key, m.value, m.num)
    return "ok", (m.key, value, num)


@dataclass
class Expected:
    ok: dict[str, Record] = field(default_factory=dict)
    dlq: dict[str, Record] = field(default_factory=dict)
    dropped: set[str] = field(default_factory=set)

    @property
    def offered(self) -> int:
        return len(self.ok) + len(self.dlq) + len(self.dropped)

    def counters(self) -> dict[str, int]:
        """The PipelineMetrics counters these routes must produce."""
        return {
            "messages_received_total": self.offered,
            "messages_completed_total": len(self.ok),
            "messages_dlq_total": len(self.dlq),
            "messages_dropped_total": len(self.dropped),
            "messages_error_total": 0,
        }


def expected_outputs(messages: list[Message]) -> Expected:
    exp = Expected()
    for m in messages:
        route, rec = run_chain(m)
        if route == "ok":
            exp.ok[m.key] = rec
        elif route == "dlq_capitalize":
            exp.dlq[m.key] = rec
        else:
            exp.dropped.add(m.key)
    return exp


def decode_json(value) -> Record:
    # to_json omits null fields, so a missing field reads as null
    d = json.loads(value)
    return (d.get("key"), d.get("value"), d.get("num"))


def decode_avro(value) -> Record:
    d = avro_unframe(bytes(value))
    return (d["key"], d["value"], d["num"])


@dataclass
class CheckResult:
    failed: int
    problems: list[str]

    @property
    def ok(self) -> bool:
        return self.failed == 0


def check_pipeline(
    exp: Expected,
    target_rows: list[tuple],
    dlq_rows: list[tuple],
    counters: dict[str, float],
    decode,
) -> CheckResult:
    """Compare both sinks with the model as multisets, keyed by message.

    ``*_rows`` are (wire key, wire value) pairs read back from the sinks.
    A message fails when it is missing from the sink its route names, is
    present more than once, carries the wrong record or wire key, or shows
    up anywhere its route does not send it (dropped records included).
    Every counter that differs from the model is one more failure.
    """
    seen: dict[str, dict[str, Counter]] = defaultdict(lambda: {"ok": Counter(), "dlq": Counter()})
    bad_rows = 0
    for sink, rows in (("ok", target_rows), ("dlq", dlq_rows)):
        for wire_key, value in rows:
            try:
                rec = decode(value)
            except (ValueError, KeyError, TypeError, IndexError, UnicodeDecodeError):
                bad_rows += 1
                continue
            # the outgoing Kafka key is the decoded record's key field
            seen[rec[0] if rec[0] is not None else wire_key][sink][(wire_key, rec)] += 1
    problems = [f"{bad_rows} sink rows do not decode"] if bad_rows else []
    failed_keys = 0
    for key in set(exp.ok) | set(exp.dlq) | exp.dropped | set(seen):
        want = {"ok": Counter(), "dlq": Counter()}
        if key in exp.ok:
            want["ok"][(key, exp.ok[key])] = 1
        elif key in exp.dlq:
            want["dlq"][(key, exp.dlq[key])] = 1
        got = seen.get(key, {"ok": Counter(), "dlq": Counter()})
        if got != want:
            failed_keys += 1
            if len(problems) < 5:
                problems.append(f"{key}: expected {dict(want)} got {dict(got)}")
    bad_counters = [
        f"{name}={counters.get(name, 0)} (expected {n})"
        for name, n in exp.counters().items()
        if counters.get(name, 0) != n
    ]
    problems += bad_counters
    return CheckResult(bad_rows + failed_keys + len(bad_counters), problems)
