#!/usr/bin/env python3
"""Self-test for detcast's machine-checked adjudication ceilings.

Verifies, against a synthetic SQL site + a synthetic ALLOW entry with a
ceiling of sf1, that:
  1. gate mode (no --sf) honors the adjudication;
  2. a sweep BELOW the ceiling honors it;
  3. a sweep AT/ABOVE the ceiling trips it (CEILING-EXCEEDED), for both
     the implicit-promotion pass and the explicit-cast pass;
  4. every real ALLOW / IMPLICIT_ALLOW entry is a 4-tuple whose ceiling
     is None or a positive number (the data shape check.py relies on).

Run standalone or via scripts/check.py. Exit 0 = all green.
"""
import importlib.util
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
spec = importlib.util.spec_from_file_location(
    "detcast", os.path.join(HERE, "detcast.py"))
dc = importlib.util.module_from_spec(spec)
spec.loader.exec_module(dc)

failures = []


def expect(cond, msg):
    if not cond:
        failures.append(msg)


# -- 4. data-shape check on the real lists ----------------------------------
for lst, name in ((dc.ALLOW, "ALLOW"), (dc.IMPLICIT_ALLOW, "IMPLICIT_ALLOW")):
    for e in lst:
        expect(len(e) == 4,
               f"{name} entry lacks a ceiling field: {e[:2]}")
        ceil = e[3] if len(e) == 4 else "MISSING"
        expect(ceil is None or (isinstance(ceil, (int, float)) and ceil > 0),
               f"{name} ceiling must be None or a positive number: {e[:2]} -> {ceil!r}")

# -- synthetic sites ----------------------------------------------------------
# implicit promotion: a bare integer sum entering float division
IMPLICIT_SRC = 'val q = """SELECT sum(syn_cents) / 1e2 AS m FROM t"""\n'
# explicit cast: sum converted to DOUBLE via CAST
EXPLICIT_SRC = 'val q = """SELECT CAST(sum(syn_cents) AS DOUBLE) AS m FROM t"""\n'
SYN_PATH = "SynQueries.scala"

dc.IMPLICIT_ALLOW.append(
    (SYN_PATH, "sum(syn_cents)", "synthetic: bounded only below sf1", 1.0))
dc.ALLOW.append(
    (SYN_PATH, "sum(syn_cents)", "synthetic: bounded only below sf1", 1.0))

for label, src in (("implicit", IMPLICIT_SRC), ("explicit", EXPLICIT_SRC)):
    # 1. gate mode: adjudication holds
    dc.SWEEP_SF = None
    v = dc.audit(SYN_PATH, src)
    expect(v == [], f"{label}: gate mode flagged an adjudicated site: {v}")
    # 2. below the ceiling: still holds
    dc.SWEEP_SF = 0.5
    v = dc.audit(SYN_PATH, src)
    expect(v == [], f"{label}: sf0.5 (< ceiling 1) flagged: {v}")
    # 3. at/above the ceiling: trips, and names the ceiling
    for sf in (1.0, 10.0):
        dc.SWEEP_SF = sf
        v = dc.audit(SYN_PATH, src)
        expect(len(v) == 1 and "CEILING-EXCEEDED" in v[0][1],
               f"{label}: sf{sf} (>= ceiling 1) did not trip: {v}")

# an UNLISTED site must still be flagged in every mode (ceilings must not
# have weakened the base audit)
dc.SWEEP_SF = None
v = dc.audit(SYN_PATH,
             'val q = """SELECT sum(other_col) / 1e2 AS m FROM t"""\n')
expect(len(v) == 1 and "CEILING" not in v[0][1],
       f"unlisted site not flagged as plain UNROUTED: {v}")

if failures:
    for f in failures:
        print(f"FAIL: {f}", file=sys.stderr)
    sys.exit(1)
print(f"detcast ceiling self-test: all green "
      f"({len(dc.ALLOW) - 1} ALLOW + {len(dc.IMPLICIT_ALLOW) - 1} "
      "IMPLICIT_ALLOW entries ceiling-checked)")
