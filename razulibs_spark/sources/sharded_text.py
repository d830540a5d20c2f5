"""Records from ONE huge text file: the one split scan behind every
single-file source (Turtle dumps, MBOX spools, Wikipedia XML dumps).
Real corpora deliver these as one multi-GB file, which the per-file
task model cannot shard.

A caller describes its records with a line automaton: a step function
``(line, state) -> (starts_record, next_state)`` and the list of
states it can be in between lines. MBOX and wiki dumps need one state
(a ``From `` or ``<page`` line starts a record); Turtle tracks whether
the line is inside a long string and whether the previous line ended a
statement.

The plan is the parallel prefix scan over that automaton:
1. ``textFile`` splits the file into line blocks (input splits; a
   100 GB file becomes ~800 tasks at 128 MB).
2. Pass 1: each split reports its transfer function, i.e. for every
   entry state the number of records that start in it and its exit
   state. The driver composes these in split order (O(splits) small
   tuples) and broadcasts each split's entry state and the id of the
   record in progress when it begins.
3. Pass 2: records that start and end inside one split are joined
   locally and never shuffle. Only each split's head (the lines
   before its first record start) and tail (its last record) are
   fragments; they go through the one stitch shuffle, keyed by record
   id and ordered by split. At most two rows per split enter it, so
   its volume is O(splits x record size), never the file.

Records are numbered from 1 in document order; lines before the first
record start (a preamble) are dropped. Callers force small splits in
tests so that records straddle split boundaries.
"""

from __future__ import annotations

from collections.abc import Callable, Hashable, Sequence
from typing import NamedTuple

from pyspark.sql import DataFrame

Step = Callable[[str, Hashable], tuple[bool, Hashable]]


class SplitScan(NamedTuple):
    records: DataFrame  # (rec_id long, rec string)
    picked: list[str]  # the lines ``pick`` kept, in document order
    splits: int  # input splits of the file


def _transfer(lines, step: Step, states: Sequence[Hashable]) -> dict:
    """One split's transfer function: entry state -> (records started
    in the split, exit state). The walks from different entry states
    merge once they reach the same state, and one walk serves them all
    from there."""
    tracks = {s: [s] for s in states}  # current state -> entry states
    starts = dict.fromkeys(states, 0)
    it = iter(lines)
    while len(tracks) > 1:
        ln = next(it, None)
        if ln is None:
            break
        merged: dict = {}
        for cur, entries in tracks.items():
            new, nxt = step(ln, cur)
            if new:
                for e in entries:
                    starts[e] += 1
            merged[nxt] = merged[nxt] + entries if nxt in merged else entries
        tracks = merged
    if len(tracks) == 1:
        ((cur, entries),) = tracks.items()
        n = 0
        for ln in it:
            new, cur = step(ln, cur)
            n += new
        for e in entries:
            starts[e] += n
        tracks = {cur: entries}
    return {e: (starts[e], cur) for cur, es in tracks.items() for e in es}


def split_records(
    spark,
    path: str,
    step: Step,
    states: Sequence[Hashable],
    min_partitions: int | None = None,
    pick: Callable[[str], bool] | None = None,
) -> SplitScan:
    """Split the text file at ``path`` into records, each the ``\\n``
    join of its lines, from the line where ``step`` starts it up to the
    next record start. ``states`` lists every state the automaton can
    be in between lines; the first is the state at the top of the file.
    ``pick`` selects lines (a Turtle directive header, say) that pass 1
    gathers on the way."""
    from pyspark.sql import functions as F

    sc = spark.sparkContext
    lines = (
        sc.textFile(path, min_partitions)
        if min_partitions else sc.textFile(path)
    )

    def _pass1(idx: int, it):
        picked: list[str] = []

        def _picking(it):
            for ln in it:
                if pick(ln):
                    picked.append(ln)
                yield ln

        transfer = _transfer(_picking(it) if pick else it, step, states)
        yield idx, transfer, picked

    summaries = sorted(lines.mapPartitionsWithIndex(_pass1).collect())
    entry: dict[int, tuple[int, Hashable]] = {}
    rec, state = 0, states[0]
    for idx, transfer, _ in summaries:
        entry[idx] = (rec, state)
        n, state = transfer[state]
        rec += n
    bc_entry = sc.broadcast(entry)

    def _pass2(idx: int, it):
        # rows (frag, rec_id, split, text): a record begun and ended in
        # this split is whole; the head and the tail are fragments
        rec, state = bc_entry.value[idx]
        buf: list[str] = []
        head = True
        for ln in it:
            new, state = step(ln, state)
            if new:
                if buf and rec:
                    yield head, rec, idx, "\n".join(buf)
                rec += 1
                buf = []
                head = False
            buf.append(ln)
        if buf and rec:
            yield True, rec, idx, "\n".join(buf)

    parts = spark.createDataFrame(
        lines.mapPartitionsWithIndex(_pass2),
        "frag boolean, rec_id long, split int, rec string",
    )
    whole = parts.filter(~F.col("frag")).select("rec_id", "rec")
    stitched = (
        parts.filter("frag")
        .groupBy("rec_id")
        .agg(
            F.array_join(
                F.transform(
                    F.sort_array(F.collect_list(F.struct("split", "rec"))),
                    lambda s: s["rec"],
                ),
                "\n",
            ).alias("rec")
        )
    )
    return SplitScan(
        whole.unionByName(stitched),
        [ln for _, _, picked in summaries for ln in picked],
        len(summaries),
    )
