"""SQL string front end for versioned-store DML — ``MERGE INTO`` /
``UPDATE`` / ``DELETE`` as users actually write them.

The versioned store's DML is a Python function API
(:func:`~skopje_spark.sinks.versioned.versioned_merge` /
``versioned_update`` / ``versioned_delete``); real pipelines carry
their mutations as SQL strings. A full ``spark.sql("MERGE INTO …")``
integration needs a JVM catalog plugin (DSv2 ``SupportsRowLevelOperations``
— out of reach from pure Python); this module is the documented
boundary: a small, loud parser for the STANDARD grammar of the three
statements that drives the native operators, keeping all of their
economics (partial rewrite, stats/bucket pruning, deletion vectors,
OCC, change feed).

Grammar (case-insensitive keywords; ``<path>`` is a filesystem path,
a quoted path, or a name registered in the ``tables`` mapping;
``<source>`` is any Spark-resolvable table/view name):

- ``MERGE INTO <path> [AS] t USING <source> [AS] s
  ON t.k = s.k [AND t.k2 = s.k2 …]
  [WHEN MATCHED [AND <cond>] THEN UPDATE SET * | SET c = <expr>, …]
  [WHEN MATCHED [AND <cond>] THEN DELETE]
  [WHEN NOT MATCHED [AND <cond>] THEN INSERT *]``
- ``UPDATE <path> SET c = <expr>[, …] [WHERE <pred>]``
- ``DELETE FROM <path> [WHERE <pred>]``
- ``INSERT INTO <path> VALUES (…), (…)`` /
  ``INSERT INTO <path> SELECT …`` — the tail is compiled by Spark SQL
  itself (any SELECT/WITH works), aligned to the table schema by name
  when the names match, positionally when only the arity does, and
  appended through the store's O(batch) blind-append commit.
- ``CREATE TABLE <path> [PARTITIONED BY (<term>[, …])] AS SELECT …``
  — CTAS: the SELECT/WITH tail compiles through Spark SQL and commits
  as version 0 (creation is refused on an existing table — no silent
  replace); partition terms use the store's spec grammar verbatim
  (``lang``, ``day=date(ts)``, ``bucket(16,k)``, ``truncate(4,s)``).
- ``ALTER TABLE <path> CREATE [OR REPLACE] TAG <name>
  [AS OF VERSION <n>]`` / ``ALTER TABLE <path> CREATE BRANCH <name>``
  / ``ALTER TABLE <path> DROP TAG|BRANCH|REF <name>`` /
  ``ALTER TABLE <path> PUBLISH BRANCH <name> [AND DROP]`` /
  ``ALTER TABLE <path> MERGE BRANCH <name> [AND DROP]`` /
  ``ALTER TABLE <path> ADD CONSTRAINT <n> CHECK (<expr>) [NOVALIDATE]``
  / ``ALTER TABLE <path> DROP CONSTRAINT <n>`` — the named
  refs tier (tags, branches, write-audit-publish, three-way merge)
  as DDL text.
- ``OPTIMIZE <path> [WHERE col = lit [AND …]] [ZORDER BY (c1, c2)]``
  / ``VACUUM <path> [RETAIN <n> VERSIONS] [DRY RUN]`` /
  ``ANALYZE TABLE <path> COMPUTE STATISTICS [FOR COLUMNS c1, c2]`` —
  the maintenance tier as users coming from Delta/Spark type it,
  routed to ``versioned_compact`` / ``vacuum`` /
  ``versioned_analyze``.
- ``DESCRIBE HISTORY <path>`` / ``SHOW PARTITIONS <path>`` /
  ``SHOW FILES <path>`` / ``SHOW REFS <path>`` — the metadata tables
  (:func:`~skopje_spark.sinks.versioned.versioned_meta`); these
  return the metadata DataFrame instead of a version number.
- ``SELECT ... FROM <name> [VERSION AS OF n | TIMESTAMP AS OF 'ts' |
  @ref] ...`` (and ``WITH`` CTEs) — read-only time travel: mapped
  names attach through the connector at the pinned snapshot, the
  rewritten statement compiles through Spark SQL itself (joins
  between two pinned versions of one table work), and the result
  DataFrame is returned. Unmapped names resolve in Spark's own
  catalog, so versioned and ordinary tables join in one statement.

Alias references in conditions and SET expressions are rewritten to
the native operators' evaluation domain (target columns bare, source
columns ``src_``-prefixed — the documented ``versioned_merge``
contract), so the SQL text evaluates over the matched pair exactly as
Delta's MERGE does. Anything outside the grammar raises ``ValueError``
with the offending fragment — never a silent partial parse.
"""

from __future__ import annotations

import re

from pyspark.sql import SparkSession

__all__ = ["versioned_sql"]

_WS = r"\s+"


def _strip_quotes(tok: str) -> str:
    if len(tok) >= 2 and tok[0] == tok[-1] and tok[0] in "'\"`":
        return tok[1:-1]
    return tok


def _split_top_commas(s: str) -> list[str]:
    """Split on commas outside parentheses and quotes."""
    out, depth, cur, q = [], 0, [], None
    for ch in s:
        if q:
            cur.append(ch)
            if ch == q:
                q = None
            continue
        if ch in "'\"":
            q = ch
            cur.append(ch)
        elif ch == "(":
            depth += 1
            cur.append(ch)
        elif ch == ")":
            depth -= 1
            cur.append(ch)
        elif ch == "," and depth == 0:
            out.append("".join(cur).strip())
            cur = []
        else:
            cur.append(ch)
    if cur:
        out.append("".join(cur).strip())
    return [x for x in out if x]


def _rewrite_aliases(expr: str, t_alias: str | None, s_alias: str | None) -> str:
    """``t.col`` → ``col``; ``s.col`` → ``src_col`` — the
    versioned_merge pair-evaluation domain."""
    if t_alias:
        expr = re.sub(
            rf"\b{re.escape(t_alias)}\.(\w+)", r"\1", expr,
            flags=re.IGNORECASE,
        )
    if s_alias:
        expr = re.sub(
            rf"\b{re.escape(s_alias)}\.(\w+)", r"src_\1", expr,
            flags=re.IGNORECASE,
        )
    return expr


def _resolve_path(tok: str, tables: dict[str, str] | None) -> str:
    tok = _strip_quotes(tok)
    if tables and tok in tables:
        return tables[tok]
    return tok


def versioned_sql(
    spark: SparkSession,
    sql: str,
    *,
    tables: dict[str, str] | None = None,
    **kwargs,
) -> int:
    """Execute one MERGE/UPDATE/DELETE statement against a versioned
    table and return the committed version. ``tables`` maps SQL table
    names to store paths (unmapped names are taken as paths);
    ``kwargs`` pass through to the native operator (``change_feed``,
    ``expected_version``, ``meta``, …)."""
    stmt = sql.strip().rstrip(";").strip()
    head = stmt.split(None, 1)[0].upper() if stmt else ""
    if head == "MERGE":
        return _merge(spark, stmt, tables, kwargs)
    if head == "UPDATE":
        return _update(spark, stmt, tables, kwargs)
    if head == "DELETE":
        return _delete(spark, stmt, tables, kwargs)
    if head == "INSERT":
        return _insert(spark, stmt, tables, kwargs)
    if head == "CREATE":
        return _ctas(spark, stmt, tables, kwargs)
    if head == "ALTER":
        return _alter_ref(spark, stmt, tables, kwargs)
    if head in ("DESCRIBE", "SHOW"):
        return _meta_stmt(spark, stmt, tables, kwargs)
    if head in ("SELECT", "WITH"):
        return _select(spark, stmt, tables, kwargs)
    if head == "OPTIMIZE":
        return _optimize_stmt(spark, stmt, tables, kwargs)
    if head == "VACUUM":
        return _vacuum_stmt(stmt, tables, kwargs)
    if head == "ANALYZE":
        return _analyze_stmt(spark, stmt, tables, kwargs)
    raise ValueError(
        f"versioned_sql supports SELECT/WITH (VERSION|TIMESTAMP AS OF, "
        f"@ref) / MERGE INTO / UPDATE / DELETE FROM / "
        f"INSERT INTO / CREATE TABLE AS / ALTER TABLE refs / "
        f"OPTIMIZE [ZORDER BY] / VACUUM / ANALYZE TABLE / "
        f"DESCRIBE HISTORY / SHOW PARTITIONS|FILES|REFS; "
        f"got {stmt[:60]!r}"
    )


# FROM/JOIN <name> [VERSION AS OF n | TIMESTAMP AS OF ts | @ref]
_TT = re.compile(
    rf"\b(FROM|JOIN){_WS}([A-Za-z_][A-Za-z0-9_.]*)"
    rf"(?:{_WS}VERSION{_WS}AS{_WS}OF{_WS}(\d+)"
    rf"|{_WS}TIMESTAMP{_WS}AS{_WS}OF{_WS}'([^']+)'"
    rf"|@([A-Za-z0-9][A-Za-z0-9._-]*))?",
    flags=re.IGNORECASE,
)


def _select(spark, stmt, tables, kwargs):
    """Read-only SELECT/WITH with TIME TRAVEL syntax over versioned
    tables — the SQL spelling of the function API's ``version=`` /
    ``as_of_ts=`` / ``ref=``: every ``FROM/JOIN <name>`` whose name is
    in ``tables`` is attached through the connector (pinned when
    ``VERSION AS OF n``, ``TIMESTAMP AS OF 'ts'``, or ``@ref``
    follows), then the rewritten statement compiles through Spark SQL
    itself — any projection/join/window/CTE works. Names NOT in
    ``tables`` are left for Spark's own catalog (temp views compose).
    Returns the result DataFrame; commits nothing.

    SIDE-EFFECT-FREE: the attachments are session temp views, so a
    bare SELECT used to silently clobber any pre-existing temp view
    sharing a mapped name and leave its attachments registered. Now
    every clobbered TEMP view is captured first and restored after the
    statement's plan is built, and every view this call attached is
    dropped — the analyzed plan keeps the pinned snapshot (resolution
    happens inside ``spark.sql``), so the returned DataFrame stays
    valid after the views are gone."""
    from skopje_spark.sources.lakesource import attach_versioned

    attached: list[str] = []
    saved: dict[str, object] = {}

    def _attach(alias, path, kw_args):
        if alias not in saved:
            try:
                hit = [
                    t for t in spark.catalog.listTables()
                    if t.isTemporary and t.name == alias
                ]
                if hit:
                    saved[alias] = spark.table(alias)
            except Exception:
                pass
        attach_versioned(spark, alias, path, **kw_args)
        attached.append(alias)

    def rewrite(m):
        kw, name, ver, ts, ref = m.groups()
        if tables is None or name not in tables:
            return m.group(0)  # Spark-catalog name: untouched
        path = tables[name]
        alias = name
        kw_args = {}
        if ver is not None:
            alias = f"{name}__v{ver}"
            kw_args["version"] = int(ver)
        elif ts is not None:
            import datetime as _dt

            t = _dt.datetime.fromisoformat(ts)
            alias = f"{name}__ts{abs(hash(ts)) % 10**8}"
            kw_args["as_of_ts"] = t.timestamp()
        elif ref is not None:
            alias = f"{name}__ref_{ref.replace('.', '_').replace('-', '_')}"
            kw_args["ref"] = ref
        _attach(alias, path, kw_args)
        return f"{kw} {alias}"

    rewritten = _TT.sub(rewrite, stmt)
    if tables and not attached:
        raise ValueError(
            "SELECT referenced none of the mapped tables "
            f"{sorted(tables)}: {stmt[:60]!r}"
        )
    try:
        return spark.sql(rewritten)
    finally:
        for alias in set(attached):
            try:
                spark.catalog.dropTempView(alias)
            except Exception:
                pass
        for alias, df_saved in saved.items():
            df_saved.createOrReplaceTempView(alias)


def _meta_stmt(spark, stmt, tables, kwargs):
    """``DESCRIBE HISTORY t`` / ``SHOW PARTITIONS|FILES|REFS t`` —
    the read-only metadata statements. These return a DataFrame (the
    metadata table, :func:`~skopje_spark.sinks.versioned.versioned_meta`),
    not a committed version number — they commit nothing."""
    from skopje_spark.sinks.versioned import versioned_meta

    m = re.match(
        rf"(?:DESCRIBE{_WS}HISTORY|SHOW{_WS}(PARTITIONS|FILES|REFS))"
        rf"{_WS}(\S+)$",
        stmt, flags=re.IGNORECASE,
    )
    if not m:
        raise ValueError(f"unparsable metadata statement: {stmt[:80]!r}")
    kind = (m.group(1) or "history").lower()
    path = _resolve_path(m.group(2), tables)
    return versioned_meta(spark, path, kind, **kwargs)


def _ctas(spark, stmt, tables, kwargs) -> int:
    from skopje_spark.sinks.versioned import latest_version, versioned_write

    m = re.match(
        rf"CREATE{_WS}TABLE{_WS}(\S+)"
        rf"(?:{_WS}PARTITIONED{_WS}BY{_WS}\((.+?)\))?"
        rf"{_WS}AS{_WS}(.+)$",
        stmt, flags=re.IGNORECASE | re.DOTALL,
    )
    if not m:
        raise ValueError(f"unparsable CREATE TABLE: {stmt[:80]!r}")
    path = _resolve_path(m.group(1), tables)
    spec = [t for t in _split_top_commas(m.group(2))] if m.group(2) else None
    body = m.group(3).strip()
    if body.split(None, 1)[0].upper() not in ("SELECT", "WITH"):
        raise ValueError(
            f"CREATE TABLE supports AS SELECT/WITH; got {body[:60]!r}"
        )
    if latest_version(path) is not None:
        raise FileExistsError(
            f"CREATE TABLE target {path} already holds a committed "
            "table — CTAS creates, it never replaces"
        )
    # expected_version=None makes creation ATOMIC: two racing CTAS
    # both pass the friendly pre-check above, but only one commit
    # lands — the loser gets a loud CommitConflict, never a silent
    # replace (the pre-check alone would let the second stack a v1)
    from skopje_spark.sinks.versioned import CommitConflict

    try:
        return versioned_write(
            spark.sql(body), path, partition_by=spec,
            expected_version=None, **kwargs,
        )
    except CommitConflict:
        raise FileExistsError(
            f"CREATE TABLE target {path} was created concurrently — "
            "CTAS creates, it never replaces"
        )


def _alter_ref(spark, stmt, tables, kwargs) -> int:
    from skopje_spark.sinks.versioned import (
        versioned_branch,
        versioned_drop_ref,
        versioned_publish,
        versioned_tag,
    )

    m = re.match(
        rf"ALTER{_WS}TABLE{_WS}(\S+){_WS}(.+)$",
        stmt, flags=re.IGNORECASE | re.DOTALL,
    )
    if not m:
        raise ValueError(f"unparsable ALTER TABLE: {stmt[:80]!r}")
    path = _resolve_path(m.group(1), tables)
    action = re.sub(r"\s+", " ", m.group(2).strip())

    tm = re.match(
        r"CREATE( OR REPLACE)? TAG (\S+)( AS OF VERSION (\d+))?$",
        action, flags=re.IGNORECASE,
    )
    if tm:
        v = int(tm.group(4)) if tm.group(4) else None
        return versioned_tag(
            path, tm.group(2), version=v,
            replace=bool(tm.group(1)), **kwargs,
        )
    bm = re.match(
        r"CREATE BRANCH (\S+)( AS OF VERSION (\d+))?$",
        action, flags=re.IGNORECASE,
    )
    if bm:
        v = int(bm.group(3)) if bm.group(3) else None
        versioned_branch(path, bm.group(1), version=v, **kwargs)
        from skopje_spark.sinks.versioned import latest_version

        return latest_version(path)
    dm = re.match(
        r"DROP (TAG|BRANCH|REF) (\S+)$", action, flags=re.IGNORECASE
    )
    if dm:
        kind, name = dm.group(1).upper(), dm.group(2)
        if kind != "REF":
            from skopje_spark.sinks.versioned import table_refs

            actual = table_refs(path).get(name, {}).get("type")
            if actual is not None and actual != kind.lower():
                raise ValueError(
                    f"DROP {kind} {name}: ref is a {actual}, not a "
                    f"{kind.lower()} — say DROP {actual.upper()} "
                    f"{name} (or DROP REF)"
                )
        return versioned_drop_ref(path, name, **kwargs)
    pm = re.match(
        r"PUBLISH BRANCH (\S+)( AND DROP)?$", action, flags=re.IGNORECASE
    )
    if pm:
        return versioned_publish(
            path, pm.group(1), drop=bool(pm.group(2)), **kwargs
        )
    mm = re.match(
        r"MERGE BRANCH (\S+)( AND DROP)?$", action, flags=re.IGNORECASE
    )
    if mm:
        from skopje_spark.sinks.versioned import versioned_merge_branch

        kwargs.setdefault("spark", spark)
        return versioned_merge_branch(
            path, mm.group(1), drop=bool(mm.group(2)), **kwargs
        )
    cm = re.match(
        r"ADD CONSTRAINT (\w+) CHECK \((.+)\)( NOVALIDATE)?$",
        action, flags=re.IGNORECASE | re.DOTALL,
    )
    if cm:
        # Delta's spelling; NOVALIDATE skips the one-time proof that
        # existing rows satisfy the expression (Oracle's keyword —
        # Delta has no spelling for it, but large backfills need one)
        from skopje_spark.sinks.versioned import set_check_constraint

        return set_check_constraint(
            spark, path, cm.group(1), cm.group(2).strip(),
            validate=not cm.group(3), **kwargs,
        )
    xm = re.match(r"DROP CONSTRAINT (\w+)$", action, flags=re.IGNORECASE)
    if xm:
        from skopje_spark.sinks.versioned import drop_check_constraint

        return drop_check_constraint(path, xm.group(1), **kwargs)
    raise ValueError(
        f"unsupported ALTER TABLE action: {action[:60]!r} — supported: "
        "CREATE [OR REPLACE] TAG n [AS OF VERSION v], CREATE BRANCH n "
        "[AS OF VERSION v], DROP TAG|BRANCH|REF n, "
        "PUBLISH BRANCH n [AND DROP], MERGE BRANCH n [AND DROP], "
        "ADD CONSTRAINT n CHECK (expr) [NOVALIDATE], DROP CONSTRAINT n"
    )


def _opt_literal(tok: str):
    """A WHERE-scope literal: quoted → string, else int, float, or
    the raw token (dates arrive quoted)."""
    tok = tok.strip()
    if tok and tok[0] in "'\"" and tok[-1] == tok[0]:
        return tok[1:-1]
    for cast in (int, float):
        try:
            return cast(tok)
        except ValueError:
            pass
    return tok


def _optimize_stmt(spark, stmt, tables, kwargs) -> int:
    """``OPTIMIZE <path> [WHERE col = lit [AND …]] [ZORDER BY (c, …)]``
    — the Delta maintenance spelling, routed to
    :func:`~skopje_spark.sinks.versioned.versioned_compact`:
    bin-packing compaction by default, z-order re-clustering with
    ``ZORDER BY``, and a bounds-scoped rewrite with ``WHERE``
    (equality conjuncts over partition-ish columns — only files
    provably inside the bounds rewrite, z-ordered when both clauses
    are given; everything else rides by reference)."""
    from skopje_spark.sinks.versioned import versioned_compact

    m = re.match(
        rf"OPTIMIZE{_WS}(\S+)"
        rf"(?:{_WS}WHERE{_WS}(.+?))?"
        rf"(?:{_WS}ZORDER{_WS}BY{_WS}\(?([^()]+?)\)?)?$",
        stmt, flags=re.IGNORECASE | re.DOTALL,
    )
    if not m:
        raise ValueError(f"unparsable OPTIMIZE: {stmt[:80]!r}")
    path = _resolve_path(m.group(1), tables)
    where = None
    if m.group(2):
        where = {}
        for conj in re.split(rf"{_WS}AND{_WS}", m.group(2).strip(),
                             flags=re.IGNORECASE):
            eq = re.match(rf"(\w+){_WS}?={_WS}?(.+)$", conj.strip())
            if not eq:
                raise ValueError(
                    "OPTIMIZE WHERE supports equality conjuncts "
                    f"(col = literal); got {conj.strip()[:40]!r}"
                )
            where[eq.group(1)] = _opt_literal(eq.group(2))
    cluster = (
        [c.strip() for c in m.group(3).split(",")] if m.group(3) else None
    )
    return versioned_compact(
        spark, path, where=where,
        cluster_by=cluster, zorder=bool(cluster), **kwargs,
    )


def _vacuum_stmt(stmt, tables, kwargs):
    """``VACUUM <path> [RETAIN <n> VERSIONS] [DRY RUN]`` — routed to
    :func:`~skopje_spark.sinks.versioned.vacuum` (version-count
    retention, not Delta's hours — the store's documented contract).
    Returns the list of removed (or, under DRY RUN, removable)
    versions rather than a commit number — vacuum commits nothing."""
    from skopje_spark.sinks.versioned import vacuum

    m = re.match(
        rf"VACUUM{_WS}(\S+)"
        rf"(?:{_WS}RETAIN{_WS}(\d+){_WS}VERSIONS)?"
        rf"(?:{_WS}(DRY{_WS}RUN))?$",
        stmt, flags=re.IGNORECASE,
    )
    if not m:
        raise ValueError(f"unparsable VACUUM: {stmt[:80]!r}")
    path = _resolve_path(m.group(1), tables)
    if m.group(2) is not None:
        kwargs.setdefault("keep", int(m.group(2)))
    if m.group(3):
        kwargs["dry_run"] = True
    return vacuum(path, **kwargs)


def _analyze_stmt(spark, stmt, tables, kwargs) -> int:
    """``ANALYZE TABLE <path> COMPUTE STATISTICS [FOR COLUMNS c, …]``
    — Spark's spelling, routed to
    :func:`~skopje_spark.sinks.versioned.versioned_analyze`: one pass
    computes NDV/null/row counts and records them as the
    ``column_stats`` table property in a metadata-only commit."""
    from skopje_spark.sinks.versioned import versioned_analyze

    m = re.match(
        rf"ANALYZE{_WS}TABLE{_WS}(\S+){_WS}COMPUTE{_WS}STATISTICS"
        rf"(?:{_WS}FOR{_WS}COLUMNS{_WS}(.+))?$",
        stmt, flags=re.IGNORECASE | re.DOTALL,
    )
    if not m:
        raise ValueError(f"unparsable ANALYZE: {stmt[:80]!r}")
    path = _resolve_path(m.group(1), tables)
    cols = (
        [c.strip() for c in m.group(2).split(",")] if m.group(2) else None
    )
    return versioned_analyze(spark, path, cols, **kwargs)


def _insert(spark, stmt, tables, kwargs) -> int:
    from pyspark.sql import functions as F
    from pyspark.sql.types import StructType

    from skopje_spark.sinks.versioned import (
        _MANIFEST_NAME,
        latest_version,
        versioned_append,
    )

    m = re.match(
        rf"INSERT{_WS}INTO{_WS}(\S+){_WS}(.+)$",
        stmt, flags=re.IGNORECASE | re.DOTALL,
    )
    if not m:
        raise ValueError(f"unparsable INSERT: {stmt[:80]!r}")
    path = _resolve_path(m.group(1), tables)
    body = m.group(2).strip()
    bh = body.split(None, 1)[0].upper()
    if bh == "VALUES":
        df = spark.sql(f"SELECT * FROM {body}")
    elif bh in ("SELECT", "WITH") or body.startswith("("):
        df = spark.sql(body)
    else:
        raise ValueError(
            f"INSERT INTO supports VALUES (...) or SELECT ...; "
            f"got {body[:60]!r}"
        )
    import json as _json
    import os as _os

    committed = latest_version(path)
    if committed is None:
        raise FileNotFoundError(
            f"INSERT INTO target {path} does not exist — create it "
            "with versioned_write first"
        )
    with open(_os.path.join(path, f"v={committed}", _MANIFEST_NAME)) as f:
        schema = StructType.fromJson(_json.load(f)["schema"])
    want = [fld.name for fld in schema.fields]
    if set(df.columns) == set(want):
        aligned = df.select(
            *[F.col(fld.name).cast(fld.dataType).alias(fld.name)
              for fld in schema.fields]
        )
    elif len(df.columns) == len(want):
        # positional: VALUES tuples carry synthesized column names
        aligned = df.select(
            *[F.col(df.columns[i]).cast(fld.dataType).alias(fld.name)
              for i, fld in enumerate(schema.fields)]
        )
    else:
        raise ValueError(
            f"INSERT arity {len(df.columns)} does not match table "
            f"schema {want}"
        )
    return versioned_append(spark, path, aligned, **kwargs)


def _delete(spark, stmt, tables, kwargs) -> int:
    from skopje_spark.sinks.versioned import versioned_delete

    m = re.match(
        rf"DELETE{_WS}FROM{_WS}(\S+)(?:{_WS}WHERE{_WS}(.+))?$",
        stmt, flags=re.IGNORECASE | re.DOTALL,
    )
    if not m:
        raise ValueError(f"unparsable DELETE: {stmt[:80]!r}")
    path = _resolve_path(m.group(1), tables)
    pred = (m.group(2) or "TRUE").strip()
    return versioned_delete(spark, path, pred, **kwargs)


def _update(spark, stmt, tables, kwargs) -> int:
    from skopje_spark.sinks.versioned import versioned_update

    m = re.match(
        rf"UPDATE{_WS}(\S+){_WS}SET{_WS}(.+?)(?:{_WS}WHERE{_WS}(.+))?$",
        stmt, flags=re.IGNORECASE | re.DOTALL,
    )
    if not m:
        raise ValueError(f"unparsable UPDATE: {stmt[:80]!r}")
    path = _resolve_path(m.group(1), tables)
    set_map: dict[str, str] = {}
    for part in _split_top_commas(m.group(2)):
        am = re.match(r"(\w+)\s*=\s*(.+)$", part, flags=re.DOTALL)
        if not am:
            raise ValueError(f"unparsable SET assignment: {part!r}")
        set_map[am.group(1)] = am.group(2).strip()
    pred = (m.group(3) or "TRUE").strip()
    return versioned_update(spark, path, set_map, pred, **kwargs)


def _merge(spark, stmt, tables, kwargs) -> int:
    from skopje_spark.sinks.versioned import versioned_merge

    m = re.match(
        rf"MERGE{_WS}INTO{_WS}(\S+)(?:{_WS}AS)?(?:{_WS}(\w+))?"
        rf"{_WS}USING{_WS}(\S+)(?:{_WS}AS)?(?:{_WS}(\w+))?"
        rf"{_WS}ON{_WS}(.+?)(?={_WS}WHEN{_WS})(.+)$",
        stmt, flags=re.IGNORECASE | re.DOTALL,
    )
    if not m:
        raise ValueError(f"unparsable MERGE: {stmt[:80]!r}")
    path = _resolve_path(m.group(1), tables)
    t_alias = m.group(2)
    source_name = _strip_quotes(m.group(3))
    s_alias = m.group(4)
    on_cond = m.group(5).strip()
    when_text = m.group(6)

    # aliases that collide with keywords mean the optional alias was
    # actually the next keyword (regex backtracking handles USING/ON,
    # but guard WHEN explicitly)
    if t_alias and t_alias.upper() in ("USING", "ON", "WHEN"):
        t_alias = None
    if s_alias and s_alias.upper() in ("ON", "WHEN"):
        s_alias = None

    # equality-conjunct key extraction: every conjunct must be
    # t.k = s.k (either order) on the SAME column name
    keys: list[str] = []
    for conj in re.split(rf"{_WS}AND{_WS}", on_cond, flags=re.IGNORECASE):
        em = re.match(
            r"\s*(\w+)\.(\w+)\s*=\s*(\w+)\.(\w+)\s*$", conj
        )
        if not em:
            raise ValueError(
                f"MERGE ON supports equality conjuncts t.k = s.k; "
                f"got {conj.strip()!r}"
            )
        a1, c1, a2, c2 = em.groups()
        amap = {a1.lower(): c1, a2.lower(): c2}
        ta = (t_alias or "").lower()
        sa = (s_alias or "").lower()
        if ta not in amap or sa not in amap:
            raise ValueError(
                f"MERGE ON conjunct {conj.strip()!r} does not reference "
                f"both aliases {t_alias!r}/{s_alias!r}"
            )
        if amap[ta] != amap[sa]:
            raise ValueError(
                f"MERGE ON conjunct {conj.strip()!r} joins differently "
                "named columns — the native operator keys on shared "
                "column names; alias the source column first"
            )
        keys.append(amap[ta])

    def rw(expr: str) -> str:
        return _rewrite_aliases(expr, t_alias, s_alias)

    when_matched_update = None
    when_matched_delete = None
    when_not_matched_insert = None
    update_set: dict[str, str] | None = None
    clause_re = re.compile(
        rf"WHEN{_WS}(NOT{_WS}MATCHED|MATCHED)(?:{_WS}AND{_WS}(.+?))?"
        rf"{_WS}THEN{_WS}(UPDATE{_WS}SET{_WS}.+?|DELETE|INSERT{_WS}\*|"
        rf"INSERT{_WS}.+?)\s*(?=WHEN{_WS}|$)",
        flags=re.IGNORECASE | re.DOTALL,
    )
    matched_any = False
    for cm in clause_re.finditer(when_text):
        matched_any = True
        kind = re.sub(r"\s+", " ", cm.group(1).upper())
        cond = rw(cm.group(2).strip()) if cm.group(2) else "TRUE"
        action = cm.group(3).strip()
        act_head = action.split(None, 1)[0].upper()
        if kind == "MATCHED" and act_head == "UPDATE":
            if when_matched_update is not None:
                raise ValueError("duplicate WHEN MATCHED … UPDATE clause")
            when_matched_update = cond
            body = re.sub(
                rf"^UPDATE{_WS}SET{_WS}", "", action,
                flags=re.IGNORECASE,
            ).strip()
            if body == "*":
                update_set = None
            else:
                update_set = {}
                for part in _split_top_commas(body):
                    am = re.match(
                        r"(?:(\w+)\.)?(\w+)\s*=\s*(.+)$", part,
                        flags=re.DOTALL,
                    )
                    if not am or (
                        am.group(1)
                        and am.group(1).lower() != (t_alias or "").lower()
                    ):
                        raise ValueError(
                            f"unparsable UPDATE SET assignment: {part!r}"
                        )
                    update_set[am.group(2)] = rw(am.group(3).strip())
        elif kind == "MATCHED" and act_head == "DELETE":
            if when_matched_delete is not None:
                raise ValueError("duplicate WHEN MATCHED … DELETE clause")
            when_matched_delete = cond
        elif kind == "NOT MATCHED" and act_head == "INSERT":
            if when_not_matched_insert is not None:
                raise ValueError("duplicate WHEN NOT MATCHED clause")
            if re.sub(r"\s+", "", action.upper()) != "INSERT*":
                raise ValueError(
                    "WHEN NOT MATCHED supports INSERT * (the source row "
                    f"carries the target schema); got {action!r}"
                )
            when_not_matched_insert = cond
        else:
            raise ValueError(
                f"unsupported MERGE clause: WHEN {kind} THEN {action!r}"
            )
    if not matched_any:
        raise ValueError(f"MERGE has no parsable WHEN clause: {when_text!r}")
    return versioned_merge(
        spark,
        path,
        spark.table(source_name),
        keys,
        when_matched_update=when_matched_update,
        when_matched_delete=when_matched_delete,
        when_not_matched_insert=when_not_matched_insert,
        update_set=update_set,
        **kwargs,
    )
