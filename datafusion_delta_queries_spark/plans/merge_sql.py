"""MERGE INTO — the Delta Lake DML statement, parsed and executed.

The query frontend (`sql_frontend.py`) covers the reference's SELECT
fragment; this module adds the write-side statement every lakehouse
user actually maintains tables with:

    MERGE INTO <target> [AS t] USING <source> [AS s]
    ON <equi conjunction over t./s. columns>
    [WHEN MATCHED [AND <cond>] THEN UPDATE SET col = expr, ...]
    [WHEN MATCHED [AND <cond>] THEN DELETE]
    [WHEN NOT MATCHED [AND <cond>] THEN INSERT (cols) VALUES (exprs)]
    [WHEN NOT MATCHED [AND <cond>] THEN INSERT *]

Semantics follow Delta exactly where it is strict:

- **Multiple source matches for one target row are an ERROR** (Delta's
  ``DELTA_MULTIPLE_SOURCE_ROW_MATCHING_TARGET_ROW``): resolving them
  by arbitrary pick would make the merge nondeterministic.
- WHEN clauses apply FIRST-MATCH-WINS in statement order; a matched
  row no clause accepts passes through unchanged.
- INSERT * requires the source to carry exactly the target columns.

Execution is one declarative plan over (target ⟕ source): survivors
(anti join), clause-routed matched rows, and not-matched inserts,
unioned and swapped in via the same staged write discipline as
maintained state (``sources/sinks.staged_swap``) — on a
transactional lakehouse this is the native MERGE; on plain parquet
the table rewrites atomically-enough via staging. The reference has
no DML surface at all.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .sql_frontend import (
    UnsupportedSQL,
    _expr_text,
    _Parser,
    _rewrite_quals,
    _split_toplevel,
    _tokenize,
)


def parse_merge(sql: str) -> dict:
    """MERGE statement → spec dict (pure parse, no execution)."""
    p = _Parser(_tokenize(sql))
    p.expect_kw("merge")
    schema_evolution = False
    if p.at_kw("with"):
        p.next()
        p.expect_kw("schema")
        p.expect_kw("evolution")
        schema_evolution = True
    p.expect_kw("into")
    target = p.next().split(".")[-1]
    t_alias = target
    if p.at_kw("as"):
        p.next()
        t_alias = p.next()
    elif not p.at_kw("using"):
        t_alias = p.next()
    p.expect_kw("using")
    source = p.next().split(".")[-1]
    s_alias = source
    if p.at_kw("as"):
        p.next()
        s_alias = p.next()
    elif not p.at_kw("on"):
        s_alias = p.next()
    p.expect_kw("on")
    on_tokens = p.take_until_toplevel({"when"})
    if not on_tokens:
        raise UnsupportedSQL("MERGE needs an ON condition")

    clauses: list[dict] = []
    while p.at_kw("when"):
        p.next()
        matched = True
        if p.at_kw("not"):
            p.next()
            matched = False
        p.expect_kw("matched")
        cond_tokens: list[str] | None = None
        if p.at_kw("and"):
            p.next()
            cond_tokens = p.take_until_toplevel({"then"})
        p.expect_kw("then")
        if matched and p.at_kw("update"):
            p.next()
            p.expect_kw("set")
            set_tokens = p.take_until_toplevel({"when"})
            assignments = []
            for item in _split_toplevel(set_tokens, ","):
                if len(item) < 3 or item[1] != "=":
                    raise UnsupportedSQL(
                        f"UPDATE SET expects col = expr, got {' '.join(item)!r}"
                    )
                assignments.append((item[0].split(".")[-1], item[2:]))
            clauses.append(
                {"matched": True, "action": "update",
                 "cond": cond_tokens, "set": assignments}
            )
        elif matched and p.at_kw("delete"):
            p.next()
            clauses.append(
                {"matched": True, "action": "delete", "cond": cond_tokens}
            )
        elif not matched and p.at_kw("insert"):
            p.next()
            if p.peek() == "*":
                p.next()
                clauses.append(
                    {"matched": False, "action": "insert_star",
                     "cond": cond_tokens}
                )
            else:
                if p.next() != "(":
                    raise UnsupportedSQL("INSERT expects (cols) or *")
                cols = []
                while (t := p.next()) != ")":
                    if t != ",":
                        cols.append(t.split(".")[-1])
                p.expect_kw("values")
                if p.next() != "(":
                    raise UnsupportedSQL("VALUES expects (exprs)")
                depth = 1
                vtokens: list[str] = []
                while depth:
                    t = p.next()
                    if t == "(":
                        depth += 1
                    elif t == ")":
                        depth -= 1
                        if not depth:
                            break
                    vtokens.append(t)
                values = _split_toplevel(vtokens, ",")
                if len(values) != len(cols):
                    raise UnsupportedSQL(
                        f"INSERT lists {len(cols)} columns but "
                        f"{len(values)} values"
                    )
                clauses.append(
                    {"matched": False, "action": "insert",
                     "cond": cond_tokens, "cols": cols, "values": values}
                )
        else:
            raise UnsupportedSQL(
                f"unsupported WHEN {'MATCHED' if matched else 'NOT MATCHED'} "
                f"action at {p.peek()!r}"
            )
    if (t := p.peek()) is not None:
        raise UnsupportedSQL(f"unexpected trailing tokens at {t!r}")
    if not clauses:
        raise UnsupportedSQL("MERGE needs at least one WHEN clause")
    return {
        "target": target, "t_alias": t_alias,
        "source": source, "s_alias": s_alias,
        "on": on_tokens, "clauses": clauses,
        "schema_evolution": schema_evolution,
    }


def execute_merge(
    spark: SparkSession,
    sql: str,
    target_path: str,
    source_df: DataFrame,
    fmt: str = "parquet",
    partition_cols: list[str] | None = None,
) -> None:
    """Parse and run a MERGE INTO against a file-backed target table.

    ``target_path`` binds the statement's target name; ``source_df``
    binds its source name.

    With ``partition_cols`` (a directory-PARTITIONED target), the
    write rewrites ONLY the partitions the batch touches — old
    partitions of matched rows plus destination partitions of updated
    and inserted rows — through the partition-level commit of
    partitioned maintained state
    (``sources.sinks.overwrite_touched_partitions``). Untouched
    partition directories are never opened for write: at 100 TB a
    MERGE whose source batch touches 3 of 10,000 date partitions costs
    3 directory rewrites, not a full-table copy. Touched partition
    values are collected on the driver (one tuple per touched
    partition). Partition-column types come from Spark's path
    inference on read, so a string partition key with numeric-looking
    values comes back as a number; a ``sources.state.StateStore``
    table keeps the types it wrote and has no such trap.

    Without ``partition_cols`` the rewrite is the whole-table staged
    swap: a failure while computing leaves the table untouched.
    """
    spec = parse_merge(sql)
    target = spark.read.format(fmt).load(target_path)
    if spec["schema_evolution"]:
        # MERGE WITH SCHEMA EVOLUTION (Delta 3.2 syntax): source-only
        # columns WIDEN the target schema; existing rows read NULL.
        # Delta records the widening in the log without touching data
        # files; this parquet substrate must materialize it, so the
        # evolved merge always takes the whole-table staged swap —
        # a pruned rewrite would leave untouched directories' files
        # on the OLD schema and plain (non-mergeSchema) reads would
        # resolve an inconsistent table.
        if partition_cols is not None:
            raise UnsupportedSQL(
                "WITH SCHEMA EVOLUTION requires the whole-table "
                "rewrite: pass partition_cols=None"
            )
        for f in source_df.schema.fields:
            if f.name not in target.columns:
                target = target.withColumn(f.name, F.lit(None).cast(f.dataType))
    t_cols = target.columns
    mapping = {spec["t_alias"]: "t", spec["s_alias"]: "s"}
    on_sql = _expr_text(_rewrite_quals(spec["on"], mapping))

    # __t_id gives each target row an identity: the multiple-match
    # guard counts matches PER TARGET ROW (two fully identical target
    # rows each matched by one source row are a deterministic merge,
    # not an error), and the guard reuses the routing join below
    # instead of running a second one.
    t = target.withColumn("__t_id", F.monotonically_increasing_id()).alias("t")
    s = source_df.alias("s")

    # Matched rows: computed once, cached — the guard count, every
    # WHEN MATCHED branch, and the final union all read this join.
    # Its size is bounded by the source batch, not the table.
    matched = t.join(s, F.expr(on_sql), "inner").persist()

    # Delta's multiple-match guard: >1 source row hitting one target
    # row makes UPDATE/DELETE nondeterministic — refuse.
    dup = (
        matched.groupBy("t.__t_id")
        .count()
        .where("count > 1")
        .limit(1)
        .count()
    )
    if dup:
        matched.unpersist()
        raise ValueError(
            "MERGE: multiple source rows match a single target row — "
            "nondeterministic update/delete refused (Delta raises "
            "DELTA_MULTIPLE_SOURCE_ROW_MATCHING_TARGET_ROW here)"
        )

    # Route through WHEN MATCHED clauses, first match wins; untouched
    # matched rows pass through. Clause conditions are NULL-safe:
    # Delta treats a NULL condition as NOT satisfied, so a row whose
    # condition evaluates NULL must fall to the NEXT clause (and
    # ultimately pass through unchanged), not vanish from both the
    # hit and the remainder branch.
    matched_parts: list[DataFrame] = []
    remaining = matched
    for cl in spec["clauses"]:
        if not cl["matched"]:
            continue
        cond = (
            _expr_text(_rewrite_quals(cl["cond"], mapping))
            if cl["cond"]
            else "TRUE"
        )
        hit = remaining.where(f"coalesce(({cond}), false)")
        remaining = remaining.where(f"NOT coalesce(({cond}), false)")
        if cl["action"] == "delete":
            continue  # hits vanish
        sets = {
            col: _expr_text(_rewrite_quals(expr, mapping))
            for col, expr in cl["set"]
        }
        unknown = [c for c in sets if c not in t_cols]
        if unknown:
            raise UnsupportedSQL(
                f"UPDATE SET targets unknown columns {unknown}"
            )
        matched_parts.append(
            hit.select(
                *[
                    F.expr(sets[c]).alias(c) if c in sets
                    else F.col(f"t.{c}")
                    for c in t_cols
                ]
            )
        )
    matched_parts.append(remaining.select(*[F.col(f"t.{c}") for c in t_cols]))

    # Not-matched source rows: route through WHEN NOT MATCHED clauses.
    unmatched = s.join(t, F.expr(on_sql), "left_anti")
    insert_parts: list[DataFrame] = []
    rem_src = unmatched
    for cl in spec["clauses"]:
        if cl["matched"]:
            continue
        cond = (
            _expr_text(_rewrite_quals(cl["cond"], mapping))
            if cl["cond"]
            else "TRUE"
        )
        hit = rem_src.where(f"coalesce(({cond}), false)")
        rem_src = rem_src.where(f"NOT coalesce(({cond}), false)")
        if cl["action"] == "insert_star":
            missing = [c for c in t_cols if c not in source_df.columns]
            if missing:
                raise UnsupportedSQL(
                    f"INSERT * but source lacks target columns {missing}"
                )
            insert_parts.append(hit.select(*[F.col(f"s.{c}") for c in t_cols]))
        else:
            exprs = {
                c: _expr_text(_rewrite_quals(v, mapping))
                for c, v in zip(cl["cols"], cl["values"])
            }
            unknown = [c for c in exprs if c not in t_cols]
            if unknown:
                raise UnsupportedSQL(f"INSERT targets unknown columns {unknown}")
            insert_parts.append(
                hit.select(
                    *[
                        F.expr(exprs[c]).alias(c) if c in exprs
                        else F.lit(None).cast(
                            dict(target.dtypes)[c]
                        ).alias(c)
                        for c in t_cols
                    ]
                )
            )
    # source rows no NOT-MATCHED clause accepts are simply not inserted

    changed_parts = matched_parts + insert_parts

    try:
        if partition_cols is None:
            # Whole-table staged swap.
            out = t.join(s, F.expr(on_sql), "left_anti").select(
                *[F.col(c) for c in t_cols]
            )
            for part in changed_parts:
                out = out.unionByName(part)
            _swap_write(out, target_path, fmt)
            return

        # Partition-pruned rewrite: touched = old partitions of every
        # matched row (updates, deletes, AND pass-throughs re-land
        # there) ∪ destination partitions of routed updates/inserts
        # (an UPDATE may move a row across partitions).
        from ..sources.sinks import overwrite_touched_partitions

        missing_p = [c for c in partition_cols if c not in t_cols]
        if missing_p:
            raise UnsupportedSQL(
                f"partition columns {missing_p} are not target columns"
            )
        from ..sources.sinks import _touched_stats, prune_to_touched

        touched_df = matched.select(
            *[F.col(f"t.{c}").alias(c) for c in partition_cols]
        )
        for part in changed_parts:
            touched_df = touched_df.unionByName(part.select(*partition_cols))
        tdf = touched_df.distinct().persist()
        try:
            n, n_null = _touched_stats(tdf, partition_cols)
            if n_null:
                raise ValueError(
                    "MERGE: NULL partition value in the batch — NULL keys "
                    "land in the __HIVE_DEFAULT_PARTITION__ directory and "
                    "break the pruned rewrite (use partition_cols=None)"
                )
            if n == 0:
                return  # no matches, no inserts: the table is unchanged

            # Survivors WITHIN the touched partitions only — every other
            # partition's files stay exactly as they are on disk.
            survivors = (
                prune_to_touched(t, tdf, partition_cols, left_prefix="t.")
                .join(s, F.expr(on_sql), "left_anti")
                .select(*[F.col(c) for c in t_cols])
            )
            out = survivors
            for part in changed_parts:
                out = out.unionByName(part)
            overwrite_touched_partitions(
                spark, target_path, out, partition_cols, tdf, fmt
            )
        finally:
            tdf.unpersist()
    finally:
        matched.unpersist()


# ---------------------------------------------------------------------------
# The rest of the DML family: UPDATE / DELETE / INSERT INTO. Same
# staged-swap discipline; each is the degenerate MERGE it desugars to.
# ---------------------------------------------------------------------------


def _swap_write(out: DataFrame, target_path: str, fmt: str) -> None:
    from ..sources.sinks import staged_swap

    staged_swap(
        target_path, lambda p: out.write.format(fmt).mode("overwrite").save(p)
    )


def execute_delete(
    spark: SparkSession,
    sql: str,
    target_path: str,
    fmt: str = "parquet",
    partition_cols: list[str] | None = None,
) -> None:
    """``DELETE FROM t WHERE p`` — rows where ``p`` IS TRUE leave the
    table (NULL-predicate rows survive, per SQL three-valued logic).
    A missing WHERE is refused: truncating a table should be an
    explicit overwrite, not an easy typo.

    With ``partition_cols``, only the partitions holding doomed rows
    are rewritten (and when ``p`` constrains the partition columns,
    Catalyst prunes the doomed-row scan to those directories too);
    every other partition's files stay untouched on disk."""
    p = _Parser(_tokenize(sql))
    p.expect_kw("delete")
    p.expect_kw("from")
    p.next()  # table name: bound by target_path
    if not p.at_kw("where"):
        raise UnsupportedSQL(
            "DELETE without WHERE would truncate the table — write an "
            "explicit overwrite if that is really the intent"
        )
    p.next()
    pred = _expr_text(p.take_until_toplevel(set()))
    target = spark.read.format(fmt).load(target_path)
    keep = f"NOT coalesce(({pred}), false)"
    if partition_cols is None:
        _swap_write(target.where(keep), target_path, fmt)
        return
    from ..sources.sinks import (
        _touched_stats,
        overwrite_touched_partitions,
        prune_to_touched,
    )

    tdf = (
        target.where(pred).select(*partition_cols).distinct().persist()
    )
    try:
        n, _n_null = _touched_stats(tdf, partition_cols)
        if n == 0:
            return  # nothing matches: the table is unchanged
        overwrite_touched_partitions(
            spark,
            target_path,
            prune_to_touched(target, tdf, partition_cols).where(keep),
            partition_cols,
            tdf,
            fmt,
        )
    finally:
        tdf.unpersist()


def execute_update(
    spark: SparkSession,
    sql: str,
    target_path: str,
    fmt: str = "parquet",
    partition_cols: list[str] | None = None,
) -> None:
    """``UPDATE t SET col = expr, ... [WHERE p]`` — assignments may
    reference the row's own pre-update columns (standard SQL: all SET
    expressions read the OLD row).

    With ``partition_cols``, only the partitions holding matching rows
    — plus the DESTINATION partitions of updates that change a
    partition-column value (the row moves directories) — are
    rewritten; every other partition's files stay untouched on disk."""
    p = _Parser(_tokenize(sql))
    p.expect_kw("update")
    p.next()  # table name: bound by target_path
    p.expect_kw("set")
    set_tokens = p.take_until_toplevel({"where"})
    pred = "TRUE"
    if p.at_kw("where"):
        p.next()
        pred = _expr_text(p.take_until_toplevel(set()))
    assignments: dict[str, str] = {}
    for item in _split_toplevel(set_tokens, ","):
        if len(item) < 3 or item[1] != "=":
            raise UnsupportedSQL(
                f"UPDATE SET expects col = expr, got {' '.join(item)!r}"
            )
        assignments[item[0].split(".")[-1]] = _expr_text(item[2:])
    target = spark.read.format(fmt).load(target_path)
    unknown = [c for c in assignments if c not in target.columns]
    if unknown:
        raise UnsupportedSQL(f"UPDATE SET targets unknown columns {unknown}")

    def _apply(df: DataFrame) -> DataFrame:
        return df.select(
            *[
                F.when(F.expr(pred), F.expr(assignments[c]))
                .otherwise(F.col(c))
                .alias(c)
                if c in assignments
                else F.col(c)
                for c in df.columns
            ]
        )

    if partition_cols is None:
        _swap_write(_apply(target), target_path, fmt)
        return
    from ..sources.sinks import (
        _touched_stats,
        overwrite_touched_partitions,
        prune_to_touched,
    )

    matching = target.where(pred)
    # Old partitions of matching rows ∪ their post-update partitions
    # (a SET over a partition column moves the row across directories).
    touched_df = matching.select(*partition_cols).unionByName(
        _apply(matching).select(*partition_cols)
    )
    tdf = touched_df.distinct().persist()
    try:
        n, n_null = _touched_stats(tdf, partition_cols)
        if n_null:
            raise ValueError(
                "UPDATE: NULL partition value before or after the SET — "
                "NULL keys land in the __HIVE_DEFAULT_PARTITION__ "
                "directory and break the pruned rewrite"
            )
        if n == 0:
            return  # nothing matches: the table is unchanged
        overwrite_touched_partitions(
            spark,
            target_path,
            _apply(prune_to_touched(target, tdf, partition_cols)),
            partition_cols,
            tdf,
            fmt,
        )
    finally:
        tdf.unpersist()


def execute_insert_into(
    spark: SparkSession,
    sql: str,
    target_path: str,
    source_catalog,
    fmt: str = "parquet",
) -> None:
    """``INSERT INTO t SELECT ...`` — the SELECT runs through the same
    query frontend every read uses (``sql_to_ir`` + ``compile_plan``
    against ``source_catalog``), and its rows APPEND to the target:
    no rewrite of existing files at all, the cheap path a lakehouse
    append is. Schema must match by name."""
    from .compiler import compile_plan
    from .sql_frontend import sql_to_ir

    toks = _tokenize(sql)
    if len(toks) < 4 or toks[0].lower() != "insert" or toks[1].lower() != "into":
        raise UnsupportedSQL("expected INSERT INTO <t> SELECT ...")
    rows = compile_plan(sql_to_ir(" ".join(toks[3:])), source_catalog)
    target = spark.read.format(fmt).load(target_path)
    missing = [c for c in target.columns if c not in rows.columns]
    if missing:
        raise UnsupportedSQL(
            f"INSERT INTO: SELECT lacks target columns {missing}"
        )
    rows.select(*target.columns).write.format(fmt).mode("append").save(
        target_path
    )


def execute_insert_overwrite(
    spark: SparkSession,
    sql: str,
    target_path: str,
    source_catalog,
    fmt: str = "parquet",
    partition_cols: list[str] | None = None,
) -> None:
    """``INSERT OVERWRITE <t> [PARTITION (col = lit, ...)] SELECT …``
    — the Hive/Spark batch-reload statement:

    - with a STATIC partition spec, exactly that partition directory
      is replaced by the SELECT's rows (the spec columns are pinned as
      literals; the SELECT provides the remaining columns) — untouched
      directories are never opened, the nightly partition-reload shape
      at 100 TB;
    - without a spec on a partitioned target, DYNAMIC partition
      overwrite: the partitions present in the SELECT's result are
      replaced, all others kept (Spark's
      ``partitionOverwriteMode=dynamic`` semantics, routed through the
      same ``overwrite_touched_partitions`` tail as MERGE/UPDATE);
    - without ``partition_cols`` the statement is a whole-table
      replace via the staged swap.
    """
    from .compiler import compile_plan
    from .sql_frontend import sql_to_ir

    toks = _tokenize(sql)
    if (
        len(toks) < 4
        or toks[0].lower() != "insert"
        or toks[1].lower() != "overwrite"
    ):
        raise UnsupportedSQL("expected INSERT OVERWRITE <t> ... SELECT ...")
    p = 3  # INSERT OVERWRITE <name>
    static: dict[str, object] = {}
    if p < len(toks) and toks[p].lower() == "partition":
        if p + 1 >= len(toks) or toks[p + 1] != "(":
            raise UnsupportedSQL("PARTITION expects ( col = literal, ... )")
        q = p + 2
        while q < len(toks) and toks[q] != ")":
            col = toks[q]
            if q + 2 >= len(toks) or toks[q + 1] != "=":
                raise UnsupportedSQL("PARTITION entries are col = literal")
            lit = toks[q + 2]
            if lit.startswith("'") and lit.endswith("'"):
                static[col] = lit[1:-1].replace("''", "'")
            else:
                try:
                    static[col] = int(lit)
                except ValueError:
                    raise UnsupportedSQL(
                        f"PARTITION literal must be string or int, got {lit!r}"
                    )
            q += 3
            if q < len(toks) and toks[q] == ",":
                q += 1
        if q >= len(toks):
            raise UnsupportedSQL("unterminated PARTITION spec")
        p = q + 1
    if p >= len(toks) or toks[p].lower() != "select":
        raise UnsupportedSQL("INSERT OVERWRITE needs a SELECT")
    rows = compile_plan(sql_to_ir(_expr_text(toks[p:])), source_catalog)
    target = spark.read.format(fmt).load(target_path)
    t_cols = target.columns

    if static:
        if partition_cols is None or set(static) != set(partition_cols):
            raise UnsupportedSQL(
                "static PARTITION spec must name exactly the target's "
                f"partition columns {partition_cols}"
            )
        for c, v in static.items():
            if c in rows.columns:
                raise UnsupportedSQL(
                    f"SELECT must not also provide pinned partition col {c}"
                )
            rows = rows.withColumn(c, F.lit(v))
    missing = [c for c in t_cols if c not in rows.columns]
    if missing:
        raise UnsupportedSQL(
            f"INSERT OVERWRITE: SELECT lacks target columns {missing}"
        )
    rows = rows.select(*t_cols)

    if partition_cols is None:
        _swap_write(rows, target_path, fmt)
        return
    from ..sources.sinks import _touched_stats, overwrite_touched_partitions

    if static:
        # The pinned literals were stamped onto every row above, so a
        # one-row literal frame (cast to the SELECT's column types) IS
        # the touched set — independent of the SELECT's emptiness: a
        # static overwrite with zero rows still replaces its directory.
        touched_df = spark.range(1).select(
            *[
                F.lit(static[c]).cast(rows.schema[c].dataType).alias(c)
                for c in partition_cols
            ]
        )
    else:
        touched_df = rows.select(*partition_cols).distinct()
    tdf = touched_df.persist()
    try:
        n, n_null = _touched_stats(tdf, partition_cols)
        if n_null:
            raise ValueError(
                "INSERT OVERWRITE: NULL partition value in the batch"
            )
        if n == 0:
            return  # an empty SELECT overwrites no partition
        overwrite_touched_partitions(
            spark, target_path, rows, partition_cols, tdf, fmt
        )
    finally:
        tdf.unpersist()


def parse_optimize(sql: str) -> dict:
    """``OPTIMIZE <target> [WHERE <partition pred>]
    [ZORDER BY (c1, c2, ...)]`` → spec dict.

    Delta Lake's table-maintenance statement: bare OPTIMIZE bin-packs
    small files to a target size; WHERE scopes the rewrite to the
    matching PARTITION directories (Delta's partition-scoped
    OPTIMIZE — the 100 TB form: the nightly job touches yesterday's
    partition, never the table); ZORDER BY additionally rewrites the
    layout clustered along the z-curve of the named columns (tight
    per-file and per-row-group stats on EVERY clustered column — the
    write-side half of the zone-map/Bloom skipping indexes)."""
    p = _Parser(_tokenize(sql))
    p.expect_kw("optimize")
    target = p.next().split(".")[-1]
    where: str | None = None
    if p.at_kw("where"):
        p.next()
        where_toks = p.take_until_toplevel({"zorder"})
        if not where_toks:
            raise UnsupportedSQL("empty WHERE in OPTIMIZE")
        where = _expr_text(where_toks)
    zorder: list[str] | None = None
    if p.peek() is not None:
        p.expect_kw("zorder")
        p.expect_kw("by")
        if p.next() != "(":
            raise UnsupportedSQL("expected ( after ZORDER BY")
        zorder = []
        while True:
            tok = p.next()
            if tok == ")":
                break
            if tok == ",":
                continue
            zorder.append(tok)
        if len(zorder) < 2:
            raise UnsupportedSQL(
                "ZORDER BY needs at least two columns (one column is "
                "a plain sort — use linear_write)"
            )
        if p.peek() is not None:
            raise UnsupportedSQL(f"trailing tokens after ZORDER BY: {p.peek()}")
    return {"target": target, "where": where, "zorder": zorder}


def execute_optimize(
    spark: SparkSession,
    sql: str,
    target_path: str,
    fmt: str = "parquet",
    target_file_bytes: int = 128 * 1024 * 1024,
    partition_cols: list[str] | None = None,
) -> dict:
    """Run ``OPTIMIZE`` against a table directory; returns
    ``{"files_before": n, "files_after": m, "zorder": cols|None,
    "partitions": k|None}``.

    Bare OPTIMIZE delegates to ``sources.sinks.compact`` sizing (file
    count from real on-disk bytes, metadata only). ZORDER BY reads the
    table once and rewrites it through ``sources.layout.zorder_write``
    with the same byte-derived file count, then staged-swaps — the
    same atomic-enough discipline as every other DML write here.
    ``OPTIMIZE ... WHERE`` on a directory-partitioned table
    (``partition_cols``) rewrites ONLY the partition directories
    holding matching rows — the 100 TB form: the touched partition
    values are a small driver collect (the same documented metadata
    class as the pruned DML executors), each touched directory is
    rewritten independently with its own byte-derived file count, and
    untouched directories are never opened."""
    import math
    import urllib.parse

    def _dir_rewrite(path: str) -> tuple[int, int]:
        # A partition dir can exist with no data files (left behind by
        # a prior rewrite); the directory walk lists it, but loading a
        # fileless dir errors. Compacting nothing is a no-op, not a
        # failure (r14 ADVICE item).
        has_data = any(
            not f.startswith(("_", "."))
            for _r, _d, files in os.walk(path)
            for f in files
        )
        if not has_data:
            return 0, 0
        df = spark.read.format(fmt).load(path)
        files_before = sorted(set(df.inputFiles()))
        total_bytes = 0
        for uri in files_before:
            parsed = urllib.parse.urlparse(uri)
            local = urllib.parse.unquote(parsed.path or uri)
            if not os.path.exists(local):
                raise FileNotFoundError(
                    f"OPTIMIZE could not stat {uri!r}; refusing to size "
                    f"the rewrite from an incomplete byte count"
                )
            total_bytes += os.path.getsize(local)
        n_files = max(1, math.ceil(total_bytes / target_file_bytes))
        if spec["zorder"]:
            missing = [c for c in spec["zorder"] if c not in df.columns]
            if missing:
                raise UnsupportedSQL(
                    f"ZORDER BY unknown columns {missing}"
                )
            from ..sources.layout import zorder_write

            def write(staging: str) -> None:
                zorder_write(df, staging, spec["zorder"], n_files=n_files)
        else:
            def write(staging: str) -> None:
                df.repartition(n_files).write.format(fmt).mode(
                    "errorifexists"
                ).save(staging)
        # Swap the staged dir in by rename: copying it back through
        # Spark would re-pack its files into read splits sized by the
        # host's core count and merge away the n_files layout.
        from ..sources.sinks import staged_swap

        staged_swap(path, write)
        after = len(set(spark.read.format(fmt).load(path).inputFiles()))
        return len(files_before), after

    spec = parse_optimize(sql)
    if spec["where"] is None and not partition_cols:
        # A flat rewrite of a hive-partitioned directory would strip
        # the partition columns into data columns and replace the
        # day=/status= layout with flat files — after which the
        # pruned DML executors' partition commits would duplicate
        # and resurrect rows. Detect the layout and refuse.
        has_part_dirs = any(
            "=" in name
            and os.path.isdir(os.path.join(target_path, name))
            for name in (
                os.listdir(target_path)
                if os.path.isdir(target_path)
                else []
            )
        )
        if has_part_dirs:
            raise UnsupportedSQL(
                "OPTIMIZE on a directory-partitioned table must pass "
                "partition_cols — a flat rewrite would destroy the "
                "partition layout"
            )
        before, after = _dir_rewrite(target_path)
        return {
            "files_before": before,
            "files_after": after,
            "zorder": spec["zorder"],
            "partitions": None,
        }

    if not partition_cols:
        raise UnsupportedSQL(
            "OPTIMIZE ... WHERE scopes the rewrite to partition "
            "directories — pass partition_cols for the table's layout "
            "(an unpartitioned table has nothing to scope to; run a "
            "bare OPTIMIZE)"
        )
    from ..sources.sinks import _partition_dirs

    # Bare OPTIMIZE with partition_cols = compact EVERY partition
    # directory, each independently (layout preserved); WHERE scopes
    # to the matching directories.
    target = spark.read.format(fmt).load(target_path)
    if spec["where"]:
        # Delta Lake restricts OPTIMIZE ... WHERE to partition
        # columns; a data-column predicate would silently rewrite
        # every directory containing one matching row — unexpected
        # write amplification, not scoping. Enforce the same
        # contract: every table column the predicate references must
        # be a partition column.
        part_set = {c.lower() for c in partition_cols}
        data_refs = sorted(
            {
                t
                for t in _tokenize(spec["where"])
                if t.split(".")[-1].lower()
                in {c.lower() for c in target.columns}
                and t.split(".")[-1].lower() not in part_set
            }
        )
        if data_refs:
            raise UnsupportedSQL(
                f"OPTIMIZE ... WHERE may reference only partition "
                f"columns {sorted(part_set)}; predicate references "
                f"data column(s) {data_refs} (Delta Lake rejects "
                "these too — a data predicate does not scope a "
                "directory rewrite)"
            )
    # Touched partitions come from the DIRECTORY LISTING, never a data
    # scan: a col=val/ tree is the same metadata Spark's own file index
    # walks, and the WHERE (partition-columns-only, enforced above)
    # evaluates against the directory VALUES on a driver-local frame
    # with full Spark SQL semantics. The final collected list is
    # O(#touched directories) — exactly the directories the compaction
    # loop is about to rewrite (the same driver-traffic class as the
    # zonemap/bloom final scan lists).
    def _walk_partition_values(
        root: str, depth: int, vals: tuple
    ) -> list[tuple]:
        if depth == len(partition_cols):
            return [vals]
        prefix = partition_cols[depth] + "="
        out: list[tuple] = []
        for name in sorted(os.listdir(root)):
            p = os.path.join(root, name)
            if os.path.isdir(p) and name.startswith(prefix):
                out += _walk_partition_values(
                    p,
                    depth + 1,
                    vals + (urllib.parse.unquote(name[len(prefix):]),),
                )
        return out

    listed = _walk_partition_values(target_path.rstrip("/"), 0, ())
    types = dict(target.dtypes)
    vals_df = spark.createDataFrame(
        listed, schema=", ".join(f"{c} string" for c in partition_cols)
    ).select(
        *[F.col(c).cast(types[c]).alias(c) for c in partition_cols]
    )
    if spec["where"]:
        vals_df = vals_df.where(spec["where"])
    touched = _partition_dirs(target_path.rstrip("/"), partition_cols, vals_df)
    before = after = 0
    for d in touched:
        b, a = _dir_rewrite(d)
        before += b
        after += a
    return {
        "files_before": before,
        "files_after": after,
        "zorder": spec["zorder"],
        "partitions": len(touched),
    }
