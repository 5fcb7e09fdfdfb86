#!/usr/bin/env python3
"""Audit SQL-text sum()->DOUBLE conversions for the correctly-rounded rule.

Why: DuckDB's HUGEINT->DOUBLE (and DECIMAL->DOUBLE) composes
upper*2^64 + lower and is NOT correctly rounded (verified 1 ulp off at
10^23+3); Spark's BigDecimal path IS. An integer moment that crosses
2^53 therefore diverges between the legs unless the DuckDB conversion
routes through a string cast (VARCHAR->DOUBLE uses fast_float, the only
correctly-rounded conversion DuckDB has). Shared Spark/DuckDB texts must
spell it `AS STRING` (Spark rejects bare VARCHAR); oracle-only text may
use `::VARCHAR::DOUBLE`.

This script finds every conversion of a `sum(...)` aggregate to DOUBLE
inside the .scala query files' SQL strings and fails loudly on any site
that (a) is not string-routed and (b) is not in the ALLOW list below.
Every ALLOW entry must state why the sum stays under 2^53 at any
plausible SF (bounded window frame, row-count magnitude, or the sum is
already DOUBLE-typed so the cast is a no-op) AND encode that bound as a
MACHINE-CHECKED numeric SF ceiling (the 4th tuple element; None = the
bound does not scale with SF). A sweep at SF >= an entry's ceiling
disables that entry, so the audit fails loud BEFORE the sweep would
discover the divergence the hard way (the r11 gini class, automated).
New unsafe sites fail scripts/check.py until routed or adjudicated here.

Usage: python3 scripts/detcast.py [--sf N] src/main/scala/graft/queries/*.scala
  --sf N   audit for a sweep at scale factor N: allow entries whose
           ceiling is <= N are treated as UNROUTED (scripts/check.py
           passes this automatically in sweep mode).
Exit 0 = every site routed or allowlisted; exit 1 lists violations.
"""
import re
import sys

# (file suffix, site-identifying substring, boundedness reason, SF ceiling)
# ceiling: the sweep scale factor at/above which the boundedness argument
# no longer holds (None = SF-independent bound, e.g. a fixed window frame
# or a DOUBLE-typed summand). Audits run with --sf N DISABLE every entry
# whose ceiling is <= N.
ALLOW = [
    ("GoldQueries.scala", "AS BIGINT)) OVER w AS DOUBLE",
     "7-row window frame: <= 7 rows of cents, ~1e7 max", None),
    ("GoldQueries.scala", "(sum(xi) OVER w)::DOUBLE",
     "7-row window frame over 1e6-scaled daily means, ~1e9 max", None),
    ("GoldQueries.scala", "sum(di)::DOUBLE",
     "grouped by day-of-week over the dataset's date span; di ~1e8, "
     "ceiling ~1e5 years of days", None),
    ("EventQueries.scala", "sum(cents)::DOUBLE",
     "per-group mean of ~1e4-magnitude cents: 2^53 needs ~1e12 rows "
     "per group (~sf1e7)", 1e7),
    ("StatsQueries.scala", "sum(np)::DOUBLE",
     "np/nt are per-decile row counts: < total rows << 2^53", 1e9),
    ("StatsQueries.scala", "sum(term)::DOUBLE",
     "term is DOUBLE-typed (log2/chi2 contribution); cast is a no-op", None),
    ("StatsQueries.scala", "sum((greatest(c_ref::DOUBLE",
     "summand is DOUBLE-typed (PSI contribution); sum is DOUBLE", None),
    ("HygieneQueries.scala", "sum(n_docs)::DOUBLE",
     "corpus document count << 2^53 at any SF", 1e11),
    ("TextQueries.scala", "(sum(w*w))::DOUBLE",
     "w is a DOUBLE tf-idf weight; sum is DOUBLE already", None),
    ("VectorQueries.scala", "list_sum([CASE WHEN list_sum([v[j+1]*",
     "64-element list_sum of DOUBLE components; DOUBLE already", None),
    ("ExtQueries.scala", "list_sum([ascii(text[i]",
     "per-row byte sum, bounded by document length", None),
]

SUM = re.compile(r'(?<![\w.])sum\s*\(', re.IGNORECASE)


def match_paren(text, open_idx):
    """Index just past the ')' matching the '(' at open_idx."""
    depth, k = 1, open_idx + 1
    while k < len(text) and depth > 0:
        if text[k] == '(':
            depth += 1
        elif text[k] == ')':
            depth -= 1
        k += 1
    return k


def double_conversions(text):
    """Yield (start, end, expr) for each CAST(expr AS DOUBLE) or
    (expr)::DOUBLE / ident::DOUBLE whose expr contains a sum()."""
    for m in re.finditer(r'(?<![\w.])CAST\s*\(', text, re.IGNORECASE):
        end = match_paren(text, m.end() - 1)
        inner = text[m.end():end - 1]
        t = re.search(r'\bAS\s+DOUBLE\s*$', inner.strip(), re.IGNORECASE)
        if t:
            yield m.start(), end, inner
    for m in re.finditer(r'::\s*DOUBLE', text, re.IGNORECASE):
        j = m.start() - 1
        while j >= 0 and text[j] in ' \t\n|':
            j -= 1
        if j >= 0 and text[j] == ')':
            # walk back to the matching '('
            depth, k = 1, j - 1
            while k >= 0 and depth > 0:
                if text[k] == ')':
                    depth += 1
                elif text[k] == '(':
                    depth -= 1
                k -= 1
            start = k + 1
            # include a leading function name (e.g. sum(...)::DOUBLE)
            while start - 1 >= 0 and (text[start - 1].isalnum()
                                      or text[start - 1] in '_.'):
                start -= 1
            yield start, m.end(), text[start:j + 1]
        else:
            k = j
            while k >= 0 and (text[k].isalnum() or text[k] in '_.'):
                k -= 1
            yield k + 1, m.end(), text[k + 1:j + 1]


# ---------------------------------------------------------------------------
# Implicit-promotion pass (the r11 ADVICE class): a BARE sum() — HUGEINT in
# DuckDB — entering float arithmetic converts through the broken
# HUGEINT->DOUBLE path with NO cast in the text for the explicit pass to
# see. `sum(x) / 1e2`, `sum(a*b) * 2.0 / (count(*) * sum(c))` are live
# examples. Detection: for each sum() with no immediate cast suffix and no
# enclosing CAST, scan the surrounding arithmetic chain (crossing parens,
# stopping at commas/keywords/comparisons) for a float-division `/` or a
# float literal — either promotes the HUGEINT to DOUBLE implicitly. Flags
# are adjudicated exactly like the explicit pass: route the oracle through
# ::VARCHAR::DOUBLE or add an IMPLICIT_ALLOW entry with a boundedness
# reason (sums < 2^53 convert identically on both paths). Sites whose
# summand is already DOUBLE-typed (no integer promotion exists) are also
# IMPLICIT_ALLOW material — the script cannot see column types.
# ---------------------------------------------------------------------------
IMPLICIT_ALLOW = [
    # ---- summand is DOUBLE-typed: the sum is DOUBLE, no conversion ----
    ("RelationalQueries.scala", "sum(l_quantity)",
     "l_quantity is DOUBLE-typed; DOUBLE sum, no integer promotion", None),
    ("RelationalQueries.scala", "sum(CASE WHEN l_returnflag",
     "l_quantity CASE arms are DOUBLE-typed; DOUBLE sum", None),
    ("GoldQueries.scala", "sum(l_quantity)",
     "l_quantity is DOUBLE-typed; DOUBLE sum, no integer promotion", None),
    ("EventQueries.scala", "sum(w) OVER (PARTITION BY src)",
     "w is count(*)::DOUBLE (markov edge weight); DOUBLE sum", None),
    ("StatsQueries.scala", "sum(n * m)",
     "anova group moments: n is count(*)::DOUBLE, m prerounded DOUBLE", None),
    ("StatsQueries.scala", "sum(n)",
     "anova n is count(*)::DOUBLE; DOUBLE sum", None),
    ("StatsQueries.scala", "sum((n - 1) * v)",
     "anova n, v are DOUBLE-typed prerounded moments; DOUBLE sum", None),
    ("StatsQueries.scala", "sum(n * (m - grand_mean)",
     "anova SSB summand is DOUBLE-typed prerounded moments; DOUBLE sum", None),
    ("HygieneQueries.scala", "sum(ln(p_tgt)",
     "DSIR summand is a DOUBLE log-ratio; DOUBLE sum", None),
    # ---- integer sums adjudicated bounded (< 2^53 at any plausible SF) --
    ("EventQueries.scala", "sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) / 1e2",
     "per-window/session/campaign event cents: ~1e10 at sf1, 2^53 "
     "needs ~sf1e5 within one group", 1e5),
    ("RelationalQueries.scala",
     "sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) / 1e2",
     "per-measure order cents: ~2e11 at sf1, 2^53 at ~sf4e4", 4e4),
    ("GoldQueries.scala", "sum(dur_us)",
     "TWAP divisor: inter-tick micros per (user, day) <= 8.64e10 << 2^53", None),
    ("HygieneQueries.scala", "sum(n))",
     "gopher dominance divisor: per-doc token count ~1e3 << 2^53", None),
    ("StatsQueries.scala", "sum(nt)",
     "lift-decile doc counts: < corpus size << 2^53", 1e11),
    ("StatsQueries.scala", "sum(xi) / count(*)",
     "half-sample/bootstrap mean numerator: ~1e4-cents x rows, 2^53 "
     "needs ~1e12 rows (~sf1e6)", 1e6),
    ("RelationalQueries.scala",
     "sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) / 1e2",
     "per-measure LINEITEM cents (f4 unpivot): the l_extendedprice "
     "measure sums the whole table's cents — MEASURED 3.18e13 at sf1 "
     "(test_ceiling_boundary.py), 2^53 at ~sf283; the engine legs keep "
     "agreeing far past that (both correctly round the same exact "
     "integer, single-limb hugeint verified), but cents exactness ends "
     "at 2^53, so the ceiling pins there. r14 fix: the prior 1e5 entry "
     "had sized this as ~1e10 event cents — wrong table, ~350x unsafe",
     2.5e2),
    ("DedupQueries.scala", "sum((floor((quality*1e6)",
     "1e6-scaled per-doc quality: 2^53 needs ~9e9 kept docs (~sf2e5)", 2e5),
]

STOP = re.compile(
    r'\b(AS|FROM|WHERE|GROUP|ORDER|THEN|ELSE|END|WHEN|CASE|AND|OR|ON|JOIN|'
    r'UNION|WINDOW|HAVING|LIMIT|BETWEEN|IN|IS|SELECT|BY|DESC|ASC|FILTER|'
    r'PARTITION|ROWS|RANGE|OVER|NOT)\b', re.IGNORECASE)
FLOAT_LIT = re.compile(r'(?<![\w.])(\d+\.\d+|\d+(?:\.\d+)?[eE][+-]?\d+|\.\d+)')
CAST_RE = re.compile(r'(?<![\w.])CAST\s*\(', re.IGNORECASE)


def _chain_window(text, s_start, s_end):
    """The arithmetic chain surrounding [s_start, s_end): walk both ways
    crossing parentheses freely, halting at commas, comparisons, or SQL
    clause keywords. Returns (back_segment, fwd_segment)."""
    j = s_start - 1
    back_stop = s_start
    while j >= 0:
        c = text[j]
        if c in ',<>=;':
            break
        if c.isalpha() or c == '_':
            k = j
            while k >= 0 and (text[k].isalnum() or text[k] == '_'):
                k -= 1
            word = text[k + 1:j + 1]
            if STOP.fullmatch(word):
                break
            j = k
            back_stop = j + 1
            continue
        j -= 1
        back_stop = j + 1
    k = s_end
    fwd_stop = s_end
    while k < len(text):
        c = text[k]
        if c in ',<>=;':
            break
        mm = re.match(r'[A-Za-z_][A-Za-z0-9_]*', text[k:])
        if mm:
            if STOP.fullmatch(mm.group(0)):
                break
            k += mm.end()
            fwd_stop = k
            continue
        k += 1
        fwd_stop = k
    return text[back_stop:s_start], text[s_end:fwd_stop]


def _float_context(segment):
    """True if this chain segment pushes integer arithmetic to DOUBLE:
    a float division `/` (DuckDB `/` is float division; `//` is exact)
    or a float literal."""
    no_intdiv = segment.replace('//', ' ')
    return '/' in no_intdiv or bool(FLOAT_LIT.search(no_intdiv))


def implicit_violations(path, text):
    # map each CAST extent to its target type so enclosed sums can defer
    casts = []
    for m in CAST_RE.finditer(text):
        end = match_paren(text, m.end() - 1)
        t = re.search(r'\bAS\s+(\w+)\s*$', text[m.end():end - 1].strip(),
                      re.IGNORECASE)
        if t:
            casts.append((m.end(), end, t.group(1).upper()))
    # (...)::VARCHAR / ::STRING routed GROUPS: every sum inside the
    # parenthesized operand is string-routed (e.g. the gini denominator
    # `(count(*) * sum(rev_c))::VARCHAR::DOUBLE`)
    for m in re.finditer(r'::\s*(VARCHAR|STRING)', text, re.IGNORECASE):
        j = m.start() - 1
        while j >= 0 and text[j] in ' \t\n|':
            j -= 1
        if j >= 0 and text[j] == ')':
            depth, k = 1, j - 1
            while k >= 0 and depth > 0:
                if text[k] == ')':
                    depth += 1
                elif text[k] == '(':
                    depth -= 1
                k -= 1
            casts.append((k + 1, j + 1, 'VARCHAR'))
    out = []
    for m in SUM.finditer(text):
        s_start, s_end = m.start(), match_paren(text, m.end() - 1)
        inner_raw = text[m.end():s_end]
        # Scala-side sums (sum($"x"), sum(lit(..))) are the ENGINE leg —
        # Spark's conversions are correctly rounded, out of audit scope
        if '$' in inner_raw or 'lit(' in inner_raw:
            continue
        # comment / scaladoc lines, not SQL text
        ls = text.rfind('\n', 0, s_start) + 1
        line_prefix = text[ls:s_start]
        if '//' in line_prefix or line_prefix.lstrip().startswith('*'):
            continue
        # OVER clause is part of the sum term
        om = re.match(r'\s*OVER\s*(\(|[A-Za-z_]\w*)', text[s_end:],
                      re.IGNORECASE)
        if om:
            if om.group(1) == '(':
                s_end = match_paren(text, s_end + om.end(1) - 1)
            else:
                s_end = s_end + om.end(1)
        # ::cast suffix on the sum or an enclosing group (pop ')' first):
        # VARCHAR routes, integral widens exactly or fails loudly, DOUBLE
        # belongs to the explicit pass
        if re.match(r'[\s)]*::', text[s_end:]):
            continue
        # enclosed in a CAST? STRING/VARCHAR routes; integral is exact;
        # DOUBLE belongs to the explicit pass
        if any(cs <= s_start and s_end <= ce for cs, ce, _ in casts):
            continue
        inner = text[m.end():s_end]
        back, fwd = _chain_window(text, s_start, s_end)
        if not (_float_context(back) or _float_context(fwd)):
            continue
        # a DOUBLE-typed summand (contains a float literal or float
        # division) makes the sum DOUBLE — no integer promotion exists,
        # UNLESS the interior is floor/round-closed back to integer via a
        # BIGINT cast (those were filtered by the CAST check above only
        # if the cast encloses the SUM, not the summand) — conservative:
        # treat explicit interior integer casts as integer sums
        interior_int = re.search(r'::\s*(U?BIGINT|INT\w*)|AS\s+BIGINT',
                                 inner, re.IGNORECASE)
        if _float_context(inner) and not interior_int:
            continue  # DOUBLE sum already; conversion is a no-op
        snippet = ' '.join(text[s_start:min(s_end + 24, len(text))].split())
        hit = next((e for e in IMPLICIT_ALLOW
                    if path.endswith(e[0]) and e[1] in snippet), None)
        if hit is not None:
            if _ceiling_ok(hit):
                continue
            line = text.count('\n', 0, s_start) + 1
            out.append((line, "CEILING-EXCEEDED (adjudicated bounded only "
                        f"below sf{hit[3]:g}, sweep is sf{SWEEP_SF:g}) "
                        + snippet[:120]))
            continue
        line = text.count('\n', 0, s_start) + 1
        out.append((line, "IMPLICIT " + snippet[:150]))
    return out


def audit(path, text):
    violations = []
    for start, end, expr in double_conversions(text):
        if not SUM.search(expr):
            continue  # not an aggregate conversion
        if re.search(r'AS\s+(STRING|VARCHAR)|::\s*(VARCHAR|STRING)',
                     expr, re.IGNORECASE):
            continue  # string-routed: correctly rounded on both engines
        snippet = ' '.join(text[start:end].split())
        hit = next((e for e in ALLOW
                    if path.endswith(e[0]) and e[1] in snippet), None)
        if hit is not None and _ceiling_ok(hit):
            continue
        line = text.count('\n', 0, start) + 1
        if hit is not None:
            violations.append((line, "CEILING-EXCEEDED (adjudicated bounded "
                               f"only below sf{hit[3]:g}, sweep is "
                               f"sf{SWEEP_SF:g}) " + snippet[:120]))
        else:
            violations.append((line, snippet[:160]))
    violations.extend(implicit_violations(path, text))
    return violations


# The sweep SF under audit (None = gate mode: every adjudication holds).
SWEEP_SF = None


def _ceiling_ok(entry):
    ceiling = entry[3]
    return ceiling is None or SWEEP_SF is None or SWEEP_SF < ceiling


if __name__ == '__main__':
    argv = sys.argv[1:]
    if argv and argv[0] == '--sf':
        SWEEP_SF = float(argv[1])
        argv = argv[2:]
    bad = 0
    for path in argv:
        with open(path) as f:
            src = f.read()
        for line, snippet in audit(path, src):
            print(f"UNROUTED {path}:{line}: {snippet}", file=sys.stderr)
            bad += 1
    if bad:
        print(f"{bad} sum()->DOUBLE conversions neither string-routed nor "
              "adjudicated in ALLOW - route via AS STRING (shared text) / "
              "::VARCHAR::DOUBLE (oracle-only) or add an ALLOW entry with "
              "a boundedness reason", file=sys.stderr)
        sys.exit(1)
    scope = (f" at sweep sf{SWEEP_SF:g} (every adjudication ceiling holds)"
             if SWEEP_SF is not None else "")
    print("detcast: every sum()->DOUBLE conversion is string-routed or "
          "adjudicated bounded" + scope)
