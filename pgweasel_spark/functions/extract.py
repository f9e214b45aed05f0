"""JVM-side Column expressions for the pgweasel grammar.

Every function returns a pyspark Column built exclusively from built-in
``pyspark.sql.functions`` (regexp/when/contains) so the whole extraction
stage runs inside whole-stage codegen — no Python in the hot path. The
Python reference semantics live in ``pgweasel_spark.grammar``; tests assert
column-vs-kernel equality on every record of every reference fixture.

Reference citations are per expression (kmoppel/pgweasel, /root/reference).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from pgweasel_spark import grammar

# --- severity (src/severity.rs:20-101) ------------------------------------


def severity_plain(raw: Column) -> Column:
    """Chained contains in the reference's exact precedence order
    (LOG: before ERROR: — src/severity.rs:62-101)."""
    expr = F.lit("log")
    # build the when-chain back to front so the first needle wins
    for name in reversed(grammar.SEVERITY_ORDER):
        expr = F.when(raw.contains(f"{name}:"), F.lit(name.lower())).otherwise(
            expr
        )
    return expr


def severity_csv(raw: Column) -> Column:
    """Same scan with ``,SEV,`` needles (src/severity.rs:20-58)."""
    expr = F.lit("log")
    for name in reversed(grammar.SEVERITY_ORDER):
        expr = F.when(raw.contains(f",{name},"), F.lit(name.lower())).otherwise(
            expr
        )
    return expr


def severity(raw: Column, fmt: Column) -> Column:
    """Format dispatch (src/format/mod.rs:23-28)."""
    return F.when(fmt == "csv", severity_csv(raw)).otherwise(
        severity_plain(raw)
    )


def severity_num(sev: Column) -> Column:
    """Ordinal lookup (src/severity.rs:161-176) as an inline literal map —
    the broadcast dim join in operators/enrich.py is the enrichment path;
    this inline form keeps the routing hot path join-free."""
    mapping = []
    for k, v in grammar.SEVERITY_NUM.items():
        mapping += [F.lit(k), F.lit(v)]
    return F.element_at(F.create_map(*mapping), sev)


# --- message (src/format/plain.rs:1-23, src/format/csv.rs:1-53) ------------

#: csvlog field 14 (1-based): 13 fields (quoted with ""-escapes kept
#: verbatim, or unquoted) then the captured 14th. Possessive quantifiers
#: keep the Java engine linear on long quoted fields.
_CSV_FIELD = '(?:"(?:""|[^"])*+"|[^,"]*+)'
_CSV14_RE = f'^(?:{_CSV_FIELD},){{13}}+("(?:""|[^"])*+"|[^,"]*+)'
#: match-success probe (field 14 exists iff 13 commas precede it)
_CSV14_PROBE = f"^(?:{_CSV_FIELD},){{13}}+"


def message_plain(raw: Column) -> Column:
    # Specification: the regex (?s)^.*?: +([^\n]*) — first ": ", skip
    # the following spaces, cut at the first newline; the lazy `.*?`
    # finds the leftmost colon-space and (?s) lets it cross line
    # boundaries exactly like the reference's whole-record byte scan.
    # Restated with string functions (the fuzz suite pins this against
    # the Python kernel): instr finds the same leftmost ': ' the lazy
    # `.*?: ` scan finds; ltrim (Spark trims ' ' only — exactly the
    # regex's `+` on literal spaces) absorbs the extra spaces;
    # substring_index cuts at the first newline like `[^\n]*`. ~2x
    # faster than the regex per record (r6 measured 1.76 s → 1.34 s for
    # the message stage at bench_sf=1.0) because the lazy regex retries
    # `: +` at every position with full engine overhead while instr is
    # one indexOf.
    # Null semantics unchanged: no ': ' → null, empty-after-colon → ''.
    p = F.instr(raw, ": ")
    rest = F.substring(raw, p + F.lit(2), F.lit((1 << 31) - 1))
    return F.when(p > 0, F.substring_index(F.ltrim(rest), "\n", 1))


def message_csv(raw: Column) -> Column:
    extracted = F.regexp_extract(raw, _CSV14_RE, 1)
    # strip surrounding quotes only (""-escapes stay verbatim —
    # strip_csv_quotes, src/format/csv.rs:46-53)
    stripped = F.when(
        (F.length(extracted) >= 2)
        & extracted.startswith('"')
        & extracted.endswith('"'),
        extracted.substr(F.lit(2), F.length(extracted) - 2),
    ).otherwise(extracted)
    return F.when(raw.rlike(_CSV14_PROBE), stripped)


def message(raw: Column, fmt: Column) -> Column:
    return F.when(fmt == "csv", message_csv(raw)).otherwise(message_plain(raw))


#: csvlog field 13 = sql_state_code (PG14+ 26-column grammar, FIXTURES.md
#: §2d). The reference never extracts it (it only severity-scans field 12
#: via ``,SEV,`` needles); we surface it for the error-code→category
#: broadcast enrichment required by the north-star.
_CSV13_RE = f'^(?:{_CSV_FIELD},){{12}}+("(?:""|[^"])*+"|[^,"]*+)'


def sqlstate(raw: Column, fmt: Column) -> Column:
    extracted = F.regexp_extract(raw, _CSV13_RE, 1)
    return F.when((fmt == "csv") & (extracted != ""), extracted)


# --- timestamp (src/util.rs:171-200; call site output_results/mod.rs:171) --

#: first three whitespace-separated tokens; the third (TZ/garbage) must
#: exist but is discarded.
_TS_TOKENS_RE = r"^\s*(\S+)\s+(\S+)\s+\S"


def event_ts(raw: Column) -> Column:
    tok1 = F.regexp_extract(raw, _TS_TOKENS_RE, 1)
    tok2 = F.regexp_extract(raw, _TS_TOKENS_RE, 2)
    joined = F.concat_ws(" ", tok1, tok2)
    ts = F.try_to_timestamp(joined, F.lit("yyyy-MM-dd HH:mm:ss[.SSS]"))
    # empty extract means fewer than three tokens → quarantine (the
    # reference hard-aborts here; we yield null instead, SURVEY.md §4)
    return F.when(tok1 != "", ts)


# --- key=value (src/format/mod.rs:37-68) -----------------------------------


def _after_needle(raw: Column, needle: str) -> Column:
    # first char unconditional (reference takes end = start+1 before the
    # delimiter scan, src/format/mod.rs:56), then greedy non-delimiters;
    # (?s:.) admits newline as the first char exactly like the byte scan,
    # and [^ ,"] also matches newline — the reference's delimiter set is
    # {space, comma, quote} only.
    #
    # contains() pre-gate (guide §1.2 per-task work): the needle is a
    # literal prefix of the pattern, so contains==false ⇒ the regex
    # cannot match ⇒ null — identical output, but the common no-needle
    # record pays one UTF8String.indexOf scan instead of a full Java
    # regex scan (measured on the pipeline spine where 4 kv needles ran
    # per record; And evaluates left-to-right and short-circuits, so
    # the regex branch is skipped when the gate is false).
    pat = f'{needle}((?s:.)[^ ,"]*)'
    extracted = F.regexp_extract(raw, pat, 1)
    return F.when(
        raw.contains(needle) & (extracted != ""), extracted
    )


def host(raw: Column) -> Column:
    return _after_needle(raw, "host=")


def user(raw: Column) -> Column:
    return _after_needle(raw, "user=")


def db(raw: Column) -> Column:
    return _after_needle(raw, "database=")


def appname(raw: Column) -> Column:
    return _after_needle(raw, "application_name=")


# --- duration (src/duration.rs:5-54) ---------------------------------------

_DURATION_RE = r"duration: *([0-9.]+) *([A-Za-z]*)"


def duration_ms(raw: Column) -> Column:
    # One full-record scan instead of two: extract the whole first match
    # (group 0) once, then re-run the pattern on that short substring for
    # the groups. Group values are identical — the pattern is re-anchored
    # at position 0 of its own match, where it matches the same way; a
    # failed full-record match yields "" and "" on "" extracts to ""
    # for both groups, the original no-match behavior. The contains()
    # pre-gate skips the regex entirely for records without the literal
    # "duration:" needle (most of a real corpus), same trick as
    # _after_needle.
    m = F.when(
        raw.contains("duration:"),
        F.regexp_extract(raw, _DURATION_RE, 0),
    ).otherwise(F.lit(""))
    num = F.regexp_extract(m, _DURATION_RE, 1)
    unit = F.regexp_extract(m, _DURATION_RE, 2)
    v = num.try_cast("double")  # '1.2.3' → null, mirroring f64::parse err
    # ns/us truncate to integer first (Duration::from_nanos(v as u64))
    ms = (
        F.when(unit == "ns", F.floor(v) / F.lit(1e6))
        .when(unit == "us", F.floor(v) / F.lit(1e3))
        .when(unit == "ms", v)
        .when(unit == "s", v * 1e3)
        .when(unit.isin("m", "min", "minutes"), v * 6e4)
    )
    return F.when((num != "") & v.isNotNull(), ms)


# --- lock / system routing predicates (src/filters/) -----------------------


#: exact ASCII case fold (translate args): the same folding Java's
#: ``(?i:)`` without UNICODE_CASE applies, and the reference's
#: ascii_case_insensitive Aho-Corasick. ``lower()`` would fold Unicode
#: (K → k, İ → i̇) and could diverge on exotic bytes.
ASCII_UPPER = "ABCDEFGHIJKLMNOPQRSTUVWXYZ"
ASCII_LOWER = "abcdefghijklmnopqrstuvwxyz"


def ascii_folded(raw: Column) -> Column:
    """ASCII-only lowercase of the record — the shared attribute the
    contains-chain predicates scan (compute once per record via a
    let-binding projection; see route.sink_flags)."""
    return F.translate(raw, ASCII_UPPER, ASCII_LOWER)


def _ci_chain(patterns: list[str], folded: Column) -> Column:
    expr = F.lit(False)
    for p in patterns:
        expr = expr | folded.contains(p.lower())
    return expr


def is_lock(raw: Column, lowered: Column | None = None) -> Column:
    """LockingFilter: 17 case-insensitive literals OR case-sensitive
    ``process [0-9]+ acquired`` (locking_filter.rs:12-83).

    Two engines, identical semantics (Java ``(?i:)`` folds ASCII-only,
    exactly matching the reference's ascii_case_insensitive
    Aho-Corasick; the chain path matches lowercase literals against an
    ASCII-folded copy of the record — same fold):

    - ``lowered=None``: ONE compiled regex alternation — self-contained,
      used by the standalone filter queries.
    - ``lowered=ascii_folded(raw)`` as a materialized ATTRIBUTE: chained
      ``contains`` (fast UTF8String.indexOf per literal) — r6
      re-measured this 3x faster than the alternation rlike on the
      bench spine (both flags: 6.9 s vs 20.8 s at bench_sf=1.0, 9.5M
      records; the r2 '5x slower' note did not reproduce), because the
      regex engine retries the whole alternation at every byte position
      while each contains is one memchr-style scan. The fold must be a
      let-binding attribute so it runs once per record, not per
      literal."""
    if lowered is None:
        return raw.rlike(grammar.lock_regex())
    return _ci_chain(grammar.LOCK_PATTERNS, lowered) | raw.rlike(
        "process [0-9]+ acquired"
    )


def is_system(raw: Column, lowered: Column | None = None) -> Column:
    """SystemFilter: 24 case-insensitive literals (system_filter.rs:12-48);
    same dual-engine contract as is_lock."""
    if lowered is None:
        return raw.rlike(grammar.system_regex())
    return _ci_chain(grammar.SYSTEM_PATTERNS, lowered)


# --- connections vocabulary (src/aggregators/connections.rs) ---------------


def is_conn_failure(raw: Column, sev: Column) -> Column:
    """FATAL + failure needle (connections.rs:51-57)."""
    return (sev == "fatal") & (
        raw.contains(grammar.CONN_FAILURE_NEEDLES[0])
        | raw.contains(grammar.CONN_FAILURE_NEEDLES[1])
    )
