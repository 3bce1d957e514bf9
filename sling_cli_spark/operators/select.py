"""Column selection / exclusion / rename / glob + column casing.

Re-implements the reference's ``ApplySelect`` semantics
(``core/dbio/iop/datatype.go:2172-2505``):

- ``"col"``            include as-is (pins position in given order)
- ``"col as alias"``   include renamed
- ``"col:type"``       include with a general-type cast
- ``"-col"``           exclude
- ``"pre*"`` / ``"-pre*"``  glob include / exclude
- ``"*"``              everything not otherwise pinned, in source order

If only exclusions (and/or ``*``) are given, the result is source order minus
exclusions. If any positive entry exists, positive entries pin order and a
``*`` expands the remainder at its position.

Column casing (``datatype.go:1808-1906``): snake / upper / lower / camel /
normalize, applied as a ``toDF`` rename so it stays metadata-only (no shuffle,
no projection cost).
"""

from __future__ import annotations

import fnmatch
import re

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from sling_cli_spark.types import to_spark_type

_AS_RE = re.compile(r"^(.+?)\s+as\s+(.+)$", re.IGNORECASE)


def parse_select_expr(expr: str) -> tuple[str, str | None, str | None, bool]:
    """-> (name_or_glob, alias, cast_type, is_exclude)"""
    expr = expr.strip()
    exclude = expr.startswith("-")
    if exclude:
        expr = expr[1:].strip()
    alias = None
    m = _AS_RE.match(expr)
    if m:
        expr, alias = m.group(1).strip(), m.group(2).strip()
    cast = None
    if "::" in expr and not expr.startswith("*"):
        expr, cast = expr.rsplit("::", 1)
        expr, cast = expr.strip(), cast.strip()
    elif ":" in expr and not expr.startswith("*"):
        expr, cast = expr.rsplit(":", 1)
        expr, cast = expr.strip(), cast.strip()
    return expr, alias, cast, exclude


def expand_select_columns(select_list, columns):
    """``@columns`` token expansion (replication.go expandSelectColumns,
    vectors in replication_test.go:822): the token must come FIRST and
    expands to the known column list in declared order; names repeated
    after the token dedupe; a token without known columns errors."""
    if not select_list:
        return select_list
    if "@columns" not in select_list:
        return select_list
    if select_list[0] != "@columns":
        raise ValueError("@columns token must be the first select entry")
    if not columns:
        raise ValueError("@columns token requires known source columns")
    out = list(columns)
    seen = {c.lower() for c in out}
    for entry in select_list[1:]:
        if entry == "@columns":
            continue
        if entry.lower() in seen:
            continue
        out.append(entry)
    return out


def apply_select(df: DataFrame, select: list[str]) -> DataFrame:
    """Apply sling select semantics; returns df unchanged for empty
    select. Exact ApplySelect algorithm port (datatype.go:2172-2312,
    vectors ported in tests/test_select_ported.py):

    - RENAMES DON'T PIN: ``["*", "a as b"]`` keeps the column at its
      source-order position under the new name; only BARE exact names
      pin (``["id", "*", "email"]`` pins email to the back).
    - ``*`` / globs expand in source order, skipping pinned + excluded
      + already-emitted fields; duplicates dedupe.
    - Matching is case-insensitive, source casing preserved.
    - A missing bare name errors only without ``*``; a missing RENAME
      errors even with ``*``; a missing exclusion is silent.
    - ``-name as alias`` is a parse error (cannot combine).

    Our extensions kept: ``col:type`` casts; a select of ONLY
    exclusions behaves as ``["*", ...exclusions]`` (the EL configs'
    shorthand; the Go caller injects the star upstream)."""
    if not select:
        return df
    if "@columns" in select:
        select = expand_select_columns(select, df.columns)
    cols = df.columns

    excluded_exact: set[str] = set()
    exclude_globs: list[str] = []
    renames: dict[str, str] = {}
    casts: dict[str, str] = {}
    pinned: set[str] = set()
    has_star = any(s.strip() == "*" for s in select)
    entries: list[tuple[str, str, str | None]] = []
    for raw in select:
        raw = (raw or "").strip()
        if not raw:
            continue
        name, alias, cast, exc = parse_select_expr(raw)
        if exc:
            if alias:
                raise ValueError(
                    f"select: cannot combine exclusion and rename: "
                    f"{raw!r}")
            if "*" in name or "?" in name:
                exclude_globs.append(name.lower())
            else:
                excluded_exact.add(name.lower())
            entries.append(("exclude", name, None))
            continue
        if cast:
            casts[name.lower()] = cast
        if alias:
            renames[name.lower()] = alias
        elif name and name != "*" and "*" not in name and "?" not in name:
            pinned.add(name.lower())
        entries.append(("include", name, alias))

    def is_excluded(low: str) -> bool:
        return low in excluded_exact or any(
            fnmatch.fnmatchcase(low, g) for g in exclude_globs)

    if all(k == "exclude" for k, _, _ in entries):
        return df.select(*[F.col(f"`{c}`") for c in cols
                           if not is_excluded(c.lower())])

    emitted: set[str] = set()
    out: list[Column] = []

    def emit(src: str) -> None:
        low = src.lower()
        emitted.add(low)
        c = F.col(f"`{src}`")
        if low in casts:
            c = c.cast(to_spark_type(casts[low]))
        out.append(c.alias(renames.get(low, src)))

    for kind, name, alias in entries:
        if kind == "exclude":
            continue
        if name == "*" or "*" in name or "?" in name:
            pat = None if name == "*" else name.lower()
            for c in cols:
                low = c.lower()
                if low in emitted or low in pinned or is_excluded(low):
                    continue
                if pat is None or fnmatch.fnmatchcase(low, pat):
                    emit(c)
            continue
        matched = next(
            (c for c in cols if c.lower() == name.lower()), None)
        if matched is None:
            if alias:
                raise ValueError(
                    f"select: column not found for rename: {name!r}")
            if not has_star:
                raise ValueError(f"select: column not found: {name!r}")
            continue
        if matched.lower() not in emitted:
            emit(matched)
    return df.select(*out)


# ----------------------------------------------------------------------
# column casing


def _snake_split(name: str) -> str:
    # the reference's matchAllCap: lower/digit -> upper boundary only
    return re.sub(r"([a-z0-9])([A-Z])", r"\1_\2", name)


def _camel(name: str) -> str:
    parts = re.split(r"[_\W]+", name)
    return parts[0].lower() + "".join(p.title() for p in parts[1:] if p)


def _normalize(name: str) -> str:
    s = re.sub(r"[^0-9a-zA-Z_]+", "_", name)
    return re.sub(r"_+", "_", s).strip("_")


def clean_name(name: str) -> str:
    """Exact CleanName port (datatype.go:871-878): trim, collapse each
    run of non-[_0-9a-zA-Z] to one underscore, prefix a leading digit
    with '_'. Unlike ``_normalize`` (the 'normalize' casing policy,
    which also strips edge underscores), this is the header cleaner
    CSV ingestion applies."""
    s = re.sub(r"[^_0-9a-zA-Z]+", "_", name.strip())
    return "_" + s if re.match(r"^\d", s) else s


def clean_header_row(header: list[str]) -> list[str]:
    """Exact CleanHeaderRow port (csv.go:43-81) — the cleaner every CSV
    / sheet header passes through: trim + strip wrapping quotes, strip
    accents (NFD, drop combining marks, NFC), replace EACH disallowed
    char with '_' (runs are NOT collapsed — csv.go substitutes
    per-character), trim the replacement char at the edges, prefix a
    leading digit with '_', empty -> 'col', de-duplicate with numeric
    suffixes, and LOWERCASE the result."""
    import unicodedata

    seen: dict[str, bool] = {}
    out = []
    for field in header:
        f = field.strip()
        if f.startswith('"'):
            f = f[1:]
        if f.endswith('"'):
            f = f[:-1]
        f = "".join(c for c in unicodedata.normalize("NFD", f)
                    if unicodedata.category(c) != "Mn")
        f = unicodedata.normalize("NFC", f)
        f = re.sub(r"[^\w]", "`", f)  # \w == \p{L}\p{N}_ (csv.go regexAllow)
        f = f.strip("`").replace("`", "_")
        if re.match(r"^\d", f):
            f = "_" + f
        if not f:
            f = "col"
        new, j = f, 1
        while new in seen:
            new = f"{f}{j}"
            j += 1
        seen[new] = True
        out.append(new.lower())
    return out


# dialects whose unquoted identifiers fold UPPER (dbio_types.go
# DBNameUpperCase default set; templates may override via the
# variable.column_upper key, which these three set)
_UPPER_DIALECTS = {"oracle", "snowflake", "exasol"}


def _dialect_case(name: str, dialect: str | None) -> str:
    return (name.upper() if (dialect or "").lower() in _UPPER_DIALECTS
            else name.lower())


def _has_varied_case(text: str) -> bool:
    return any(c.isupper() for c in text) and \
        any(c.islower() for c in text)


def _has_strange_char(text: str) -> bool:
    return re.search(r"[^a-zA-Z0-9_]", text) is not None


def apply_casing(df: DataFrame, casing: str | None,
                 dialect: str | None = None) -> DataFrame:
    """snake | upper | lower | camel | normalize | target | source —
    exact ColumnCasing.Apply semantics (datatype.go:1862-1900,
    config_test.go TestColumnCasing vectors):

    - ``source``: names untouched.
    - ``normalize``: single-cased, clean names adopt the TARGET
      dialect's unquoted-identifier case (UPPER on snowflake/oracle/
      exasol, lower elsewhere); mixed-case or strange-char names stay
      as-is (so queries needn't quote them).
    - ``snake``: camelCase boundaries split, CleanName, dialect case.
    - ``target``: CleanName, dialect case (no camel splitting).
    - ``upper``/``lower``/``camel``: CleanName then the fixed casing.
    """
    if not casing or casing == "source":
        return df

    def norm(name: str) -> str:
        if _has_varied_case(name) or _has_strange_char(name):
            return name
        return _dialect_case(name, dialect)

    fn = {
        "snake": lambda n: _dialect_case(clean_name(_snake_split(n)),
                                         dialect),
        "target": lambda n: _dialect_case(clean_name(n), dialect),
        "upper": lambda n: clean_name(n).upper(),
        "lower": lambda n: clean_name(n).lower(),
        "camel": lambda n: _camel(clean_name(n)),
        "normalize": norm,
    }.get(casing)
    if fn is None:
        raise ValueError(f"unknown column casing: {casing!r}")
    renamed = [fn(c) for c in df.columns]
    # disambiguate collisions deterministically
    seen: dict[str, int] = {}
    final = []
    for c in renamed:
        if c in seen:
            seen[c] += 1
            final.append(f"{c}_{seen[c]}")
        else:
            seen[c] = 0
            final.append(c)
    return df.toDF(*final)
