"""Output checks for the engine benchmark.

Each check takes a command's exit code and stdout and returns None when
the output is what the workload's inputs imply, else a one-line reason.
"""

import json
import re


def _json_line(stdout, opener):
    for line in reversed(stdout.splitlines()):
        if line.startswith(opener):
            return json.loads(line)
    raise ValueError("no JSON line starting with %r" % opener)


def analyze(code, stdout, planted):
    """Every migration listed once, each with exactly its planted rule
    ids (as a multiset)."""
    if code != 0:
        return "analyze exited %d" % code
    try:
        rows = _json_line(stdout, "[")
    except ValueError as e:
        return "analyze: %s" % e
    seen = {}
    for r in rows:
        if r["version"] in seen:
            return "analyze listed %s twice" % r["version"]
        seen[r["version"]] = sorted(f["rule"] for f in r["findings"])
    if set(seen) != set(planted):
        missing = sorted(set(planted) - set(seen))[:3]
        extra = sorted(set(seen) - set(planted))[:3]
        return "analyze versions differ: missing %s extra %s" % (missing, extra)
    for v, rules in planted.items():
        if seen[v] != sorted(rules):
            return "analyze %s: rules %s, planted %s" % (v, seen[v],
                                                         sorted(rules))
    return None


def apply(code, stdout, applied, skipped):
    if code != 0:
        return "apply exited %d" % code
    m = re.search(r"^applied (\d+), skipped (\d+)$", stdout, re.M)
    if not m:
        return "apply printed no summary"
    got = (int(m.group(1)), int(m.group(2)))
    if got != (applied, skipped):
        return "apply applied %d, skipped %d; expected %d, %d" % (
            got + (applied, skipped))
    return None


def rollback(code, stdout, rolled_back):
    if code != 0:
        return "rollback exited %d" % code
    m = re.search(r"^rolled back (\d+)$", stdout, re.M)
    if not m:
        return "rollback printed no summary"
    if int(m.group(1)) != rolled_back:
        return "rollback rolled back %s; expected %d" % (m.group(1),
                                                         rolled_back)
    return None


def status(code, stdout, applied, pending):
    """Applied and pending version sets as expected, no drift."""
    if code != 0:
        return "status exited %d" % code
    try:
        doc = _json_line(stdout, "{")
    except ValueError as e:
        return "status: %s" % e
    got_applied = [a["version"] for a in doc["applied"]]
    got_pending = [p["version"] for p in doc["pending"]]
    if got_applied != sorted(applied):
        return "status applied %s; expected %s" % (got_applied,
                                                   sorted(applied))
    if got_pending != sorted(pending):
        return "status pending %s; expected %s" % (got_pending,
                                                   sorted(pending))
    drift = [a["version"] for a in doc["applied"] if a["drift"]]
    if drift:
        return "status reports drift on %s" % drift
    return None
