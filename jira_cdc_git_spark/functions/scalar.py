"""Scalar function library (SURVEY §2.7 F1-F14) — Column-returning,
built-ins only, each with an exact DuckDB spelling so results stay
oracle-checkable.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

#: P16 issue-key shape (internal/cli/sync.go:329-341) — the single
#: executable copy; the CLI's --issues validation and the
#: parse_issue_list operator both reference it.
ISSUE_KEY_PATTERN = r"[A-Z][A-Z0-9]*(-[A-Z0-9]+)*-\d+"

# --- F1: project-key extraction — BOTH reference variants ------------------
# The reference diverges: pkg/schema/yaml.go:126-134 strips the trailing
# numeric segment (multi-dash-safe), while pkg/links/links.go:335-341,
# pkg/git/git.go:332-340 and pkg/state/manager.go:705-713 take everything
# before the FIRST dash (wrong for 'MY-PROJECT-456'). We standardize on the
# regex variant and expose both so the divergence is testable.


def project_key_regex(key: Column) -> Column:
    """Correct variant: 'MY-PROJECT-456' → 'MY-PROJECT'."""
    return F.regexp_extract(key, r"^(.*)-\d+$", 1)


def project_key_prefix(key: Column) -> Column:
    """First-dash variant: 'MY-PROJECT-456' → 'MY' (reference bug parity)."""
    return F.split_part(key, F.lit("-"), F.lit(1))


# --- F2: parseEpicKey (pkg/jql/builder.go:249-264) -------------------------

def epic_project(key: Column) -> Column:
    return F.regexp_extract(key, r"^(.*)-(\d+)$", 1)


def epic_number(key: Column) -> Column:
    return F.regexp_extract(key, r"^(.*)-(\d+)$", 2)


# --- F3/F4: timestamp format / multi-format parse --------------------------

JIRA_TIME_FMT = "yyyy-MM-dd'T'HH:mm:ss.SSS'Z'"

# the 6-layout fallback list of parseJIRATime (pkg/state/manager.go:679-702),
# re-expressed as Spark patterns; DuckDB strptime equivalents live in the
# oracle SQL. Unparseable input yields NULL (quarantine), NOT zero-time —
# the reference's silent zero fallback (manager.go:698-701) hides bad data.
PARSE_FORMATS = [
    "yyyy-MM-dd'T'HH:mm:ss.SSS'Z'",
    "yyyy-MM-dd'T'HH:mm:ss'Z'",
    "yyyy-MM-dd HH:mm:ss",
    "yyyy/MM/dd HH:mm",
    "yyyy-MM-dd",
    "dd/MM/yyyy",
]


def parse_jira_time(s: Column) -> Column:
    """F4 — first format that parses wins; NULL if none do."""
    return F.coalesce(*[F.try_to_timestamp(s, F.lit(fmt)) for fmt in PARSE_FORMATS])


# --- F6: conventional-commit formatting (pkg/git/git.go:293-358) -----------

def commit_type(issuetype: Column) -> Column:
    """issue-type → commit-type CASE (git.go:343-358), case-insensitive."""
    t = F.lower(issuetype)
    return (
        F.when(t.isin("epic", "story", "feature"), "feat")
        .when(t == "bug", "fix")
        .when(t.isin("task", "sub-task"), "chore")
        .when(t == "improvement", "refactor")
        .when(t == "documentation", "docs")
        .when(t == "test", "test")
        .otherwise("chore")
    )


def commit_subject(key: Column, issuetype: Column, summary: Column) -> Column:
    """`feat(PROJ): add issue PROJ-123 - Summary` (git.go:293-327); project
    from the regex F1 variant."""
    return F.concat(
        commit_type(issuetype),
        F.lit("("),
        project_key_regex(key),
        F.lit("): add issue "),
        key,
        F.lit(" - "),
        summary,
    )


# --- F7: formatUserInfo (pkg/git/git.go:361-372) ---------------------------

def format_user(name: Column, email: Column) -> Column:
    return F.when(name.isNull(), F.lit("Unassigned")).otherwise(
        F.concat(name, F.lit(" <"), email, F.lit(">"))
    )


# --- F8: case-insensitive categorization (jira_analyzer.go:155-157,228) ----

def type_category(issuetype: Column) -> Column:
    return F.lower(issuetype)


# --- F10: duration parse (internal/cli/sync.go:477-492) --------------------

def duration_ms(s: Column) -> Column:
    """'500ms' / '2s' / '3m' / '1h' → milliseconds (NULL when malformed)."""
    num = F.nullif(F.regexp_extract(s, r"^(\d+)(ms|s|m|h)$", 1), F.lit("")).try_cast("long")
    unit = F.regexp_extract(s, r"^(\d+)(ms|s|m|h)$", 2)
    factor = (
        F.when(unit == "ms", 1)
        .when(unit == "s", 1000)
        .when(unit == "m", 60000)
        .when(unit == "h", 3600000)
    )
    return (num * factor).cast("long")


# --- F11: key from file path (internal/sync/incremental.go:468-475) --------

def key_from_path(path: Column) -> Column:
    return F.regexp_extract(path, r"([^/]+)\.yaml$", 1)


# --- F12: deterministic job id (pkg/jobs/job_id.go:26-41) ------------------

def job_id(job_type: Column, ts: Column, seed: Column) -> Column:
    """`{type}-{unix}-{rand}` with the random suffix replaced by a seeded
    md5 prefix so results are reproducible."""
    return F.concat(
        job_type,
        F.lit("-"),
        F.unix_timestamp(ts).cast("string"),
        F.lit("-"),
        F.substring(F.md5(seed), 1, 8),
    )


# --- C10: exponential backoff (pkg/ratelimit/ratelimit.go:193-210) ---------

def backoff_ms(attempt: Column, base_ms: int = 1000, cap_ms: int = 30000) -> Column:
    """`min(cap, base · 2^(n-1))` — the reference's 429 backoff curve with
    its 1 s → 30 s defaults (pkg/config/config.go:20-23)."""
    return F.least(
        F.lit(cap_ms).cast("double"), base_ms * F.pow(F.lit(2.0), attempt - 1)
    ).cast("long")


# --- F13: JSON edge I/O (pkg/state/manager.go:113-123,154-161) -------------

def row_to_json(*cols: str) -> Column:
    """Serialize selected columns as a JSON document (state/profile edge
    persistence; YAML stays at the file edge, sources/yaml_io.py)."""
    return F.to_json(F.struct(*cols))


def json_to_row(js: Column, schema: str) -> Column:
    return F.from_json(js, schema)


# --- F14: profile similarity (pkg/profile/manager.go:757-836) --------------

def similarity_score(
    seg_match: Column, nation_match: Column, sign_match: Column, prefix_match: Column
) -> Column:
    """Weighted field-equality sum — the reference weighs jql/epic/repo/
    options equality; generalized to four boolean features."""
    return (
        seg_match.cast("double") * 0.3
        + nation_match.cast("double") * 0.3
        + sign_match.cast("double") * 0.2
        + prefix_match.cast("double") * 0.2
    )
