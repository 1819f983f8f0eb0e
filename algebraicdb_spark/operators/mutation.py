"""Row-level mutation planning shared by the lakehouse writers.

DELETE, UPDATE and MERGE decide the same things whatever format holds
the table: which live rows match, which files are untouched, fully
matched or partly matched, and what the new rows are. This module
makes those decisions once. It reads and writes no storage; each
writer (``DeltaTableWriter``, ``IcebergTableWriter``) hands the frames
it returns to its own encoder — remove+add actions or a deletion
vector for Delta; a manifest rewrite, a position-delete file or a v3
deletion vector for Iceberg.

Everything here works on a *scan frame*: the table's live rows as the
writer reads them (its own deletes already applied), with the table
columns plus

- ``__lp``: the row's file, as a key the writer can map back to its
  live set;
- ``__pos``: the row's physical ordinal in that file (merge-on-read
  scans only — the address a delete file or a deletion vector
  records).

Frames without ``__lp``/``__pos`` work wherever no per-file or
per-row decision is made (a rewrite of the affected files). The
semantics are SQL's: a row matches where the predicate is TRUE, so a
NULL keeps the row; assigned values are cast back to the column's
declared type, so the pinned schema never drifts.
"""

from __future__ import annotations

from collections.abc import Callable, Iterable
from dataclasses import dataclass, field

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

FILE = "__lp"
POS = "__pos"
_MARK = "__merge_matched"


def local_path(file_uri: Column) -> Column:
    """A scan row's ``__lp`` key from ``_metadata.file_path``: that
    column is a Hadoop Path URI — scheme prefix AND percent-encoded
    specials (a dir named "my tables+x" yields
    file:/tmp/my%20tables+x/…, '+' left literal). Strip the
    scheme/authority, then percent-decode WITHOUT url_decode's
    '+'→space rule (escape literal '+' first), so the key equals the
    plain local path a live set holds; skipping the decode would
    silently drop EVERY row of a file under an encodable path."""
    stripped = F.regexp_replace(
        file_uri, r"^[a-zA-Z][a-zA-Z0-9+.\-]*:(//[^/]*)?", ""
    )
    return F.url_decode(F.regexp_replace(stripped, r"\+", "%2B"))


def hit(predicate: str) -> Column:
    """TRUE exactly where ``predicate`` is TRUE (NULL → FALSE)."""
    return F.coalesce(F.expr(predicate).cast("boolean"), F.lit(False))


@dataclass(frozen=True)
class Merge:
    """A MERGE's source side: the frame, the ON condition and the two
    aliases the condition and the clause expressions name."""

    source: DataFrame
    cond: str
    target_alias: str = "t"
    source_alias: str = "s"
    on: Column = field(init=False)

    def __post_init__(self) -> None:
        # one JVM expression for every join of the statement
        object.__setattr__(self, "on", F.expr(self.cond))

    def join(self, target: DataFrame, how: str,
             source: DataFrame | None = None) -> DataFrame:
        """``target`` joined with the source (or a stand-in for it)."""
        src = self.source if source is None else source
        return target.alias(self.target_alias).join(
            src.alias(self.source_alias), self.on, how
        )


def check_merge_clauses(
    assignments: dict[str, str] | None,
    delete_matched: bool,
    insert_exprs: list[str] | None,
) -> None:
    """The clause combinations this dialect accepts."""
    if delete_matched and assignments:
        raise ValueError(
            "MERGE: WHEN MATCHED THEN DELETE and THEN UPDATE are "
            "mutually exclusive in this dialect"
        )
    if not assignments and not delete_matched and insert_exprs is None:
        raise ValueError(
            "MERGE needs WHEN MATCHED THEN UPDATE assignments, "
            "WHEN MATCHED THEN DELETE, and/or WHEN NOT MATCHED "
            "THEN INSERT expressions"
        )


def check_assigned(assignments: dict[str, str],
                   columns: Iterable[str]) -> None:
    """UPDATE may assign only the table's own columns."""
    known = set(columns)
    unknown = [c for c in assignments if c not in known]
    if unknown:
        raise ValueError(
            f"UPDATE assigns unknown column(s) {unknown} — the "
            "table schema is pinned"
        )


def check_one_match(extra: int) -> None:
    """Refuse a MERGE whose source matched some target row more than
    once: the rewrite would duplicate it. ``extra`` is how many rows
    the join produced beyond one per matched target row."""
    if extra:
        raise ValueError(
            f"MERGE: {extra} target row(s) matched multiple source "
            "rows — the rewrite would duplicate them; deduplicate the "
            "source on the merge key first"
        )


def matches(frame: DataFrame, predicate: str | None = None,
            merge: Merge | None = None) -> DataFrame:
    """The scan frame's matched rows: the predicate's, or those the
    MERGE source reaches (a semi-join, so each row appears once)."""
    if merge is not None:
        return merge.join(frame, "left_semi")
    return frame.where(F.expr(predicate))


def match_counts(
    frame: DataFrame,
    live: Iterable[str],
    predicate: str | None = None,
    merge: Merge | None = None,
) -> dict[str, int]:
    """{file: matched live rows} over a frame carrying ``__lp`` — one
    distributed scan, one row per touched file back to the driver.
    A file outside ``live`` means the live set moved under the probe
    (a concurrent vacuum), so it refuses rather than mis-attribute."""
    live = set(live)
    counts: dict[str, int] = {}
    for r in (
        matches(frame, predicate, merge)
        .groupBy(FILE)
        .agg(F.count(F.lit(1)).alias("__n"))
        .collect()
    ):
        if r[FILE] not in live:
            raise RuntimeError(
                f"probe returned file {r[FILE]} outside the live "
                "set — concurrent vacuum mid-probe?"
            )
        counts[r[FILE]] = int(r["__n"])
    return counts


def split_files(
    counts: dict[str, int], live_rows: Callable[[str], int]
) -> tuple[list[str], list[str]]:
    """(fully matched, partly matched) files, each sorted: a file whose
    every live row matched leaves without a rewrite."""
    full = sorted(f for f, n in counts.items() if n == live_rows(f))
    partial = sorted(set(counts) - set(full))
    return full, partial


def survivors(frame: DataFrame, predicate: str | None = None,
              merge: Merge | None = None) -> DataFrame:
    """The rows a DELETE (or MERGE … THEN DELETE) keeps."""
    if merge is not None:
        return merge.join(frame, "left_anti")
    return frame.where(~hit(predicate))


def data_columns(frame: DataFrame) -> list[str]:
    """The frame's table columns (``__lp``/``__pos`` dropped)."""
    return [c for c in frame.columns if c not in (FILE, POS)]


def _assigned(
    target: DataFrame,
    assignments: dict[str, str],
    columns: list[str],
    when: Column | None = None,
    prefix: str | None = None,
) -> list[Column]:
    """``columns`` of ``target`` with the assigned ones replaced by
    their expression (only where ``when`` holds, if given), cast back
    to the column's declared type. ``prefix`` qualifies the kept
    values when the frame is a join."""

    def own(c: str) -> Column:
        return F.col(f"{prefix}.{c}" if prefix else c)

    out = []
    for c in columns:
        if c not in assignments:
            out.append(own(c).alias(c) if prefix else own(c))
            continue
        v = F.expr(assignments[c])
        if when is not None:
            v = F.when(when, v).otherwise(own(c))
        out.append(v.cast(target.schema[c].dataType).alias(c))
    return out


def rewrite(frame: DataFrame, assignments: dict[str, str],
            predicate: str | None = None,
            merge: Merge | None = None) -> DataFrame:
    """Copy-on-write UPDATE / MERGE … THEN UPDATE: every row of the
    frame (the affected files), assigned columns replaced where the
    row matches. A MERGE left-joins the source, marked so a match is
    told apart from a NULL source column; a source that matches a row
    twice yields it twice, which the caller's row count check
    (``check_one_match``) refuses."""
    cols = data_columns(frame)
    if merge is None:
        return frame.select(
            *_assigned(frame, assignments, cols, when=hit(predicate))
        )
    joined = merge.join(
        frame, "left_outer", merge.source.withColumn(_MARK, F.lit(True))
    )
    return joined.select(*_assigned(
        frame, assignments, cols,
        when=F.col(f"{merge.source_alias}.{_MARK}").isNotNull(),
        prefix=merge.target_alias,
    ))


def postimages(
    matched: DataFrame,
    assignments: dict[str, str],
    target: DataFrame | None = None,
    columns: list[str] | None = None,
    merge: Merge | None = None,
    carry: Iterable[Column] = (),
) -> DataFrame:
    """Merge-on-read UPDATE / MERGE … THEN UPDATE: the matched rows
    with the assignments applied, for staging as new rows next to
    their preimages' deletes. ``matched`` is the frame of matched rows
    (for a MERGE, the inner join ``merge_matches`` returns); column
    types come from ``target`` (default ``matched``); ``carry`` adds
    columns the writer keeps per row."""
    target = matched if target is None else target
    cols = columns if columns is not None else data_columns(target)
    return matched.select(
        *_assigned(target, assignments, cols,
                   prefix=merge.target_alias if merge else None),
        *carry,
    )


def merge_matches(
    frame: DataFrame, merge: Merge, refuse_multi: bool
) -> tuple[DataFrame, int]:
    """Merge-on-read MERGE: (the target rows joined with their source
    rows, distinct target rows matched). The join is checkpointed
    lazily, so the one count below materializes it for the position
    and postimage staging that follow. ``refuse_multi`` refuses a
    source that reaches a row twice (THEN UPDATE would duplicate it;
    THEN DELETE drops the row once either way)."""
    joined = merge.join(frame, "inner").localCheckpoint(eager=False)
    row = joined.agg(
        F.count(F.lit(1)).alias("n"),
        F.count_distinct(F.col(FILE), F.col(POS)).alias("d"),
    ).collect()[0]
    n, d = int(row["n"]), int(row["d"])
    if refuse_multi:
        check_one_match(n - d)
    return joined, d


def positions(matched: DataFrame, distinct: bool = False) -> DataFrame:
    """The (``__lp``, ``__pos``) addresses of matched rows — what a
    deletion vector or position-delete file records. A MERGE join can
    list a row once per source match, hence ``distinct``."""
    out = matched.select(FILE, POS)
    return out.dropDuplicates() if distinct else out


def merge_inserts(
    merge: Merge,
    target: DataFrame | None,
    insert_exprs: list[str],
    fields: list,
) -> DataFrame:
    """WHEN NOT MATCHED THEN INSERT: the source rows reaching no target
    row (all of them when the table has no live rows, ``target`` None),
    projected through the INSERT VALUES expressions and cast to the
    declared ``fields`` (StructFields, in table order)."""
    if len(insert_exprs) != len(fields):
        raise ValueError(
            f"MERGE: INSERT VALUES has {len(insert_exprs)} "
            f"expressions for {len(fields)} target columns"
        )
    src = merge.source.alias(merge.source_alias)
    if target is not None:
        src = src.join(
            target.alias(merge.target_alias), merge.on, "left_anti"
        )
    return src.select(*[
        F.expr(e).cast(f.dataType).alias(f.name)
        for e, f in zip(insert_exprs, fields)
    ])
