"""Row-level mutation shared by the lakehouse writers.

DELETE, UPDATE and MERGE decide the same things whatever format holds
the table: which live rows match, which files are untouched, fully
matched or partly matched, and what the new rows are. This module
makes those decisions once, and runs each verb once: ``delete``,
``update`` and ``merge`` are the only verb bodies. They read and write
no storage themselves. Each runs over a ``Target``: one mutation
attempt's view of one pinned table state, which a writer
(``DeltaTableWriter``, ``IcebergTableWriter``) implements with its
own scan, row staging, position encoding, row checks and commit. A
target either rewrites the matched files (copy-on-write) or records
the matched rows by position (``Target.positions``: a Delta deletion
vector; an Iceberg position-delete file or v3 deletion vector) and
stages only the changed rows. The body never asks which writer it
serves, never retries (each writer keeps its own retry rule around
it) and owns the one failure path: any exception unstages every file
the attempt wrote.

Everything here works on a *scan frame*: the table's live rows as the
writer reads them (its own deletes already applied), with the table
columns plus

- ``__lp``: the row's file, as a key the target maps back to its live
  set (``Target.live``);
- ``__pos``: the row's physical ordinal in that file (position
  targets only — the address a delete file or a deletion vector
  records).

Frames without ``__lp``/``__pos`` work wherever no per-file or
per-row decision is made (a rewrite of the affected files). The
semantics are SQL's: a row matches where the predicate is TRUE, so a
NULL keeps the row; assigned values are cast back to the column's
declared type, so the pinned schema never drifts.
"""

from __future__ import annotations

import functools
from collections.abc import Callable, Iterable, Mapping
from dataclasses import dataclass, field
from typing import Protocol

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

FILE = "__lp"
POS = "__pos"
CHANGE_TYPE = "_change_type"
_MARK = "__merge_matched"
# the object each verb's "no commits to …" refusal names
VERB_OBJECT = {"delete": "delete from", "update": "update",
               "merge": "merge into"}


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
    live: Mapping[str, str],
    predicate: str | None = None,
    merge: Merge | None = None,
) -> dict[str, int]:
    """{file: matched live rows} over a frame carrying ``__lp`` — one
    distributed scan, one row per touched file back to the driver,
    keyed by the file key ``live`` maps each ``__lp`` to. A file
    outside ``live`` means the live set moved under the probe (a
    concurrent vacuum), so it refuses rather than mis-attribute."""
    return {
        _live_key(live, r[FILE]): int(r["__n"])
        for r in (
            matches(frame, predicate, merge)
            .groupBy(FILE)
            .agg(F.count(F.lit(1)).alias("__n"))
            .collect()
        )
    }


def _live_key(live: Mapping[str, str], lp: str) -> str:
    if lp not in live:
        raise RuntimeError(
            f"probe returned file {lp} outside the live set — "
            "concurrent vacuum mid-probe?"
        )
    return live[lp]


def collect_positions(
    frame: DataFrame, live: Mapping[str, str]
) -> dict[str, list[int]]:
    """{file: matched physical ordinals} for a (``__lp``, ``__pos``)
    frame, keyed like ``match_counts``. Bitmaps serialize
    EXECUTOR-side (``mapInPandas`` after a repartition by file), so
    driver traffic is O(compressed bitmap), never O(matched rows)."""
    import pandas as pd

    from algebraicdb_spark.operators.deletion_vectors import (
        roaring64_positions,
    )

    def to_bitmaps(batches):
        from algebraicdb_spark.operators.deletion_vectors import (
            roaring64_serialize,
        )

        acc: dict[str, list[int]] = {}
        for b in batches:
            for lp, pos in zip(b[FILE], b[POS]):
                acc.setdefault(lp, []).append(int(pos))
        if acc:
            yield pd.DataFrame({
                FILE: list(acc),
                "bm": [roaring64_serialize(sorted(v)) for v in acc.values()],
            })

    out: dict[str, list[int]] = {}
    for r in (
        frame.select(FILE, POS)
        .repartition(F.col(FILE))
        .mapInPandas(to_bitmaps, f"{FILE} string, bm binary")
        .collect()
    ):
        # one partition per file after the repartition, so each file
        # appears exactly once; decode is O(bitmap)
        out[_live_key(live, r[FILE])] = roaring64_positions(bytes(r["bm"]))
    return out


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
    merge: Merge | None = None,
    carry: Mapping[str, Column] | None = None,
) -> DataFrame:
    """Position-target UPDATE / MERGE … THEN UPDATE: the matched rows
    with the assignments applied, for staging as new rows next to
    their preimages' deletes. ``matched`` is the frame of matched rows
    (for a MERGE, the inner join ``merge_matches`` returns); column
    names and types come from ``target`` (default ``matched``);
    ``carry`` replaces the named columns with what the writer keeps
    per row."""
    target = matched if target is None else target
    carry = carry or {}
    cols = [c for c in data_columns(target) if c not in carry]
    return matched.select(
        *_assigned(target, assignments, cols,
                   prefix=merge.target_alias if merge else None),
        *[c.alias(name) for name, c in carry.items()],
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


def change_rows(pre: DataFrame, post: DataFrame, update: bool) -> DataFrame:
    """Change-feed rows between two states of the same rows: pre EXCEPT
    ALL post are removed, post EXCEPT ALL pre introduced — labeled as
    an update's pre/postimages, or as deletes and inserts."""
    pre_l, post_l = (
        ("update_preimage", "update_postimage") if update
        else ("delete", "insert")
    )
    removed = pre.exceptAll(post).withColumn(CHANGE_TYPE, F.lit(pre_l))
    added = post.exceptAll(pre).withColumn(CHANGE_TYPE, F.lit(post_l))
    return removed.unionByName(added)


# -- the verb bodies ------------------------------------------------------


@dataclass(frozen=True)
class Change:
    """What one verb decided, for the target's encoder to commit.

    ``files`` are the copy-on-write matched files (each leaves the
    table; its survivors or rewrite are staged); a position target
    knows its own. ``deletes``: the matched rows leave without a
    postimage. ``feed(files)`` gives the labeled change rows of those
    files for an encoder that writes a change feed; None means "diff
    the files' before and after states"."""

    verb: str
    predicate: str
    rows: int
    files: list[str]
    inserted: int = 0
    deletes: bool = False
    feed: Callable[[list[str]], DataFrame] | None = None


class Target(Protocol):
    """One mutation attempt over one pinned table state."""

    positions: bool  # encode matched rows by position, never rewrite
    live: Mapping[str, str]  # scan ``__lp`` → file key; empty: no rows
    columns: list[str] | None  # UPDATE's assignable columns, if known

    def scan(self, files: list[str] | None = None, probe: bool = False,
             restage: bool = False) -> DataFrame:
        """The live rows of ``files`` (default: all). ``probe`` adds
        ``__lp`` (and ``__pos`` on a position target); ``restage``:
        the rows become postimages, so the scan carries what
        ``carry`` keeps."""

    def live_rows(self, file: str) -> int: ...

    def derive(self, frame: DataFrame) -> DataFrame:
        """Changed rows, the table's derived columns recomputed."""

    def carry(self, prefix: str | None = None) -> dict[str, Column]:
        """The per-row columns a postimage keeps from its preimage."""

    def insert_fields(self, probe: DataFrame | None) -> list: ...

    def stage_rows(self, frame: DataFrame, check: bool = True) -> int:
        """Stage new rows (``check``: against the table's rules
        first) through ``txnlog.stage``, which lands no zero-row file;
        returns the rows staged."""

    def stage_positions(self, positions: DataFrame) -> int:
        """Encode matched addresses; returns the rows they delete."""

    def commit(self, change: Change) -> int:
        """Publish one commit; raising means nothing landed."""

    def encoded(self) -> dict[str, int]: ...

    def unstage(self) -> None: ...


def _attempt(verb: Callable[..., dict]) -> Callable[..., dict]:
    """The one failure path: nothing an aborted attempt staged stays."""
    @functools.wraps(verb)
    def run(t: Target, *args, **kwargs) -> dict:
        try:
            return verb(t, *args, **kwargs)
        except BaseException:
            t.unstage()
            raise

    return run


def _result(t: Target, version: int | None, rows: dict[str, int],
            files: dict[str, int], removed: bool = False) -> dict:
    """The verb's result: its row counts, then the copy-on-write file
    counts or the position encoder's own (``removed``: report fully
    removed files)."""
    if t.positions:
        files = {k: v for k, v in t.encoded().items()
                 if removed or k != "files_removed"}
    return {"version": version, **rows, **files}


def _drop_rows(t: Target, counts: dict[str, int],
               predicate: str | None = None,
               merge: Merge | None = None) -> int:
    """Copy-on-write removal of the matched rows: fully matched files
    leave with zero rewrite I/O, partly matched ones restage their
    survivors. Returns the files rewritten."""
    _full, partial = split_files(counts, t.live_rows)
    if partial:
        t.stage_rows(survivors(t.scan(partial), predicate, merge),
                     check=False)
    return len(partial)


@_attempt
def delete(t: Target, predicate: str) -> dict:
    """``DELETE FROM … WHERE predicate``: copy-on-write drops the
    matched rows (``_drop_rows``); position targets encode them."""
    counts: dict[str, int] = {}
    n = rewritten = 0
    if t.live and t.positions:
        n = t.stage_positions(
            positions(matches(t.scan(probe=True), predicate)))
    elif t.live:
        counts = match_counts(t.scan(probe=True), t.live, predicate)
        n = sum(counts.values())
        rewritten = _drop_rows(t, counts, predicate)
    version = None
    if n:
        version = t.commit(Change(
            "delete", predicate, n, sorted(counts), deletes=True,
            # the deletes ARE the matched rows of the affected files
            feed=lambda files: t.scan(files).where(hit(predicate))
            .withColumn(CHANGE_TYPE, F.lit("delete")),
        ))
    return _result(t, version, {"rows_deleted": n},
                   {"files_removed": len(counts),
                    "files_rewritten": rewritten}, removed=True)


@_attempt
def update(t: Target, assignments: dict[str, str],
           predicate: str | None = None) -> dict:
    """``UPDATE … SET col = expr [WHERE predicate]``. Copy-on-write:
    each matched file rewrites through a CASE per assigned column.
    Position targets encode the matched rows and stage only their
    postimages, from the same (checkpointed) probe."""
    pred = predicate if predicate is not None else "TRUE"
    counts: dict[str, int] = {}
    n = 0
    if t.live:
        if t.columns is not None:
            check_assigned(assignments, t.columns)
        if t.positions:
            # probe once, use twice; lazy — the position encoding
            # is the materializing action
            matched = matches(t.scan(probe=True, restage=True),
                              pred).localCheckpoint(eager=False)
            n = t.stage_positions(positions(matched))
            if n:
                t.stage_rows(t.derive(postimages(
                    matched, assignments, carry=t.carry())))
        else:
            counts = match_counts(t.scan(probe=True), t.live, pred)
            n = sum(counts.values())
            if n:
                t.stage_rows(t.derive(rewrite(
                    t.scan(sorted(counts)), assignments, pred)))

    def feed(files: list[str]) -> DataFrame:
        pre = t.scan(files).where(hit(pred))
        return change_rows(
            pre, t.derive(postimages(pre, assignments)), update=True)

    version = None
    if n:
        version = t.commit(
            Change("update", pred, n, sorted(counts), feed=feed))
    return _result(t, version, {"rows_updated": n},
                   {"files_rewritten": len(counts)})


@_attempt
def merge(t: Target, m: Merge, assignments: dict[str, str] | None,
          insert_exprs: list[str] | None,
          delete_matched: bool = False) -> dict:
    """``MERGE INTO`` as one commit. Copy-on-write: a semi-join probe
    counts matched rows per file; THEN DELETE drops them as
    ``delete`` does, THEN UPDATE rewrites the reached files through a
    marked left join, refused when the staged rows outnumber the
    files' rows (a source reaching a row twice). Position targets: one
    inner join finds the matched positions and their postimages, the
    multi-match refusal in the same aggregate. NOT MATCHED inserts
    anti-join the live rows and ride the same commit."""
    counts: dict[str, int] = {}
    matched = inserted = rewritten = 0
    probe = t.scan(probe=True, restage=True) if t.live else None
    if (assignments or delete_matched) and probe is not None:
        if t.positions:
            # lazy: the match count below materializes it
            probe = probe.localCheckpoint(eager=False)
            joined, matched = merge_matches(
                probe, m, refuse_multi=bool(assignments))
            if matched:
                t.stage_positions(positions(joined, distinct=True))
                if assignments:
                    t.stage_rows(t.derive(postimages(
                        joined, assignments, target=probe, merge=m,
                        carry=t.carry(m.target_alias))))
        else:
            counts = match_counts(probe, t.live, merge=m)
            matched = sum(counts.values())
            affected = sorted(counts)
            rewritten = len(affected)
            if affected and delete_matched:
                rewritten = _drop_rows(t, counts, merge=m)
            elif affected:
                staged = t.stage_rows(t.derive(rewrite(
                    t.scan(affected), assignments, merge=m)))
                check_one_match(
                    staged - sum(t.live_rows(f) for f in affected))
    if insert_exprs is not None:
        inserted = t.stage_rows(merge_inserts(
            m, probe, insert_exprs, t.insert_fields(probe)))
    version = None
    if matched or inserted:
        version = t.commit(Change(
            "merge", m.cond, matched, sorted(counts), inserted,
            deletes=delete_matched,
        ))
    return _result(t, version,
                   {"rows_matched": matched, "rows_inserted": inserted},
                   {"files_rewritten": rewritten})
