"""Scalable global dense ranking (SURVEY.md §4 item 2).

The reference assigns warehouse-wide event ids with
``DENSE_RANK() OVER (ORDER BY ...)`` — an un-partitioned window
(``load_stage.mcaid_claim_header.R:865-967``). On Spark that funnels
the whole table through ONE task; fine at 60k rows, fatal at 100 TB.

Both functions here keep the same semantics (dense, 1-based, ordered
by the key columns) with ONE algorithm, applied to the rows directly:

1. one range exchange by the key order, so partitions are themselves
   ordered, then a sort within each partition;
2. one Arrow pass per partition: the running count of key changes is
   the dense rank within the partition (numpy cumsums, O(1) state
   carried between record batches);
3. per-partition totals -> prefix-sum offsets (one integer per
   partition reaches the driver), folded back as a literal lookup.

``dense_global_id`` ranks arbitrary key tuples;
``dense_event_ids_inline`` mints several flagged (person, date) id
families and gap-chained episode families in the same single pass.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def _offset_ids(ranked: DataFrame, loc_names: list[str]) -> list[Column]:
    """Global ids from per-partition running counts: one long column
    per ``loc_names`` entry, the row's local count plus the totals of
    every earlier partition.

    Each running count is monotone, so its per-partition max is the
    partition's total. The totals frame is one row per physical
    partition — bounded metadata — so it is collected (a JVM-side
    partial max over the checkpointed blocks) and the prefix-sum
    offsets fold back as literal array lookups on ``_pid``: the id
    attachment stays map-only, with no offsets shuffle and no
    broadcast-join stage."""
    totals = {
        r["_pid"]: r[1:]
        for r in ranked.groupBy("_pid")
        .agg(*[F.max(c) for c in loc_names])
        .collect()
    }
    n_parts = (max(totals) + 1) if totals else 0
    ids = []
    for j, c in enumerate(loc_names):
        offs, acc = [], 0
        for p in range(n_parts):
            offs.append(acc)
            acc += totals[p][j] if p in totals else 0
        off_arr = F.array(*[F.lit(v).cast("long") for v in offs])
        ids.append(
            (F.col(c) + F.element_at(off_arr, F.col("_pid") + 1)).cast("long")
        )
    return ids


def dense_global_id(
    df: DataFrame,
    order_cols: list[str],
    out_col: str = "global_id",
    num_partitions: int | None = None,
) -> DataFrame:
    """Attach a globally dense 1-based id ordered by ``order_cols``
    directly on the rows: ONE range exchange + ONE Arrow pass.

    The reference's un-partitioned ``DENSE_RANK() OVER (ORDER BY ...)``
    (``load_stage.mcaid_claim_header.R:865-967``): range-partition the
    rows by the key order, sort within partitions, count key CHANGES in
    a vectorized pass (running count of distinct keys == dense rank),
    then lift per-partition counts into prefix-sum offsets. Rows that
    share a key share its id.

    Null handling is eqNullSafe-style: a NULL key value equals itself
    and keys containing NULLs get ids in Spark's null-first range
    order, matching ``DENSE_RANK``'s treatment. Float NaN likewise
    equals itself (one rank group — Spark's NaN semantics), via a
    per-key state channel (null / value / NaN) compared alongside the
    NaN-masked values, so no sentinel pre-coalescing is required.
    """
    if num_partitions:
        ranged = df.repartitionByRange(num_partitions, *order_cols)
    else:
        ranged = df.repartitionByRange(*order_cols)
    ranged = ranged.sortWithinPartitions(*order_cols)

    fields = ", ".join(f"`{n}` {t}" for n, t in df.dtypes)
    out_schema = fields + ", `_pid` int, `_loc` long"

    def _key_arrays(batch, names):
        """Per key column: (state int8 array, value numpy array).

        ``state`` is 0 for NULL, 1 for an ordinary value, 2 for a float
        NaN VALUE — DENSE_RANK treats NaN as equal to itself (one rank
        group), but numpy's ``vals[1:] != vals[:-1]`` is True for
        adjacent NaNs, so NaN gets its own state channel (values masked
        to 0.0) exactly like NULLs do.
        """
        import numpy as np
        import pyarrow as pa
        import pyarrow.compute as pc

        out = []
        for c in order_cols:
            arr = batch.column(names.index(c))
            state = arr.is_valid().to_numpy(
                zero_copy_only=False
            ).astype(np.int8)
            if pa.types.is_date32(arr.type):
                arr = pc.cast(arr, pa.int32())
            elif pa.types.is_date64(arr.type) or pa.types.is_timestamp(
                arr.type
            ):
                arr = arr.view(pa.int64())
            vals = arr.to_numpy(zero_copy_only=False)
            # nulls surface as NaN/None/NaT; mask them to a fixed value
            # so value comparison is deterministic and the state channel
            # alone decides null-vs-NaN-vs-value changes
            if vals.dtype == object:
                vals = np.where(state == 1, vals, "")
            elif np.issubdtype(vals.dtype, np.floating):
                state[(state == 1) & np.isnan(vals)] = 2
                vals = np.where(state == 1, vals, 0.0)
            out.append((state, vals))
        return out

    def _running(iterator):
        from pyspark import TaskContext
        import numpy as np
        import pyarrow as pa

        pid = TaskContext.get().partitionId()
        run = 0
        has_carry = False
        carry = None  # list of (valid: bool, value) for the last row
        for batch in iterator:
            m = batch.num_rows
            if m == 0:
                continue
            names = batch.schema.names
            keys = _key_arrays(batch, names)
            change = np.zeros(m, dtype=bool)
            change[0] = True
            for state, vals in keys:
                change[1:] |= state[1:] != state[:-1]
                change[1:] |= (
                    (state[1:] == 1) & (state[:-1] == 1)
                    & (vals[1:] != vals[:-1])
                )
            if has_carry:
                same = all(
                    (int(state[0]) == cs)
                    and (cs != 1 or vals[0] == cvv)
                    for (state, vals), (cs, cvv) in zip(keys, carry)
                )
                change[0] = not same
            locs = run + np.cumsum(change.astype("int64"))
            run = int(locs[-1])
            has_carry = True
            carry = [
                (int(state[-1]), vals[-1]) for state, vals in keys
            ]
            arrays = list(batch.columns)
            arrays.append(pa.array(np.full(m, pid, dtype="int32")))
            arrays.append(pa.array(locs))
            yield pa.RecordBatch.from_arrays(
                arrays, names=names + ["_pid", "_loc"]
            )

    # eager checkpoint: the totals collect and the id attachment both
    # read the materialized blocks, so the Arrow pass runs once, and
    # lineage truncates for chained builders
    ranked = ranged.mapInArrow(_running, out_schema).localCheckpoint(
        eager=True
    )
    (gid,) = _offset_ids(ranked, ["_loc"])
    return ranked.select(*df.columns, gid.alias(out_col))


def dense_event_ids_inline(
    facts: DataFrame,
    person_col: str,
    date_col: str,
    families: list[tuple[str, str]],
    episode_families: list[tuple[list[str], str, int]] | None = None,
    num_partitions: int | None = None,
) -> DataFrame:
    """Attach every per-(person, date) dense event-id family DIRECTLY
    to the fact rows in ONE exchange + ONE vectorized pass.

    The reference mints utilization-event ids with un-partitioned
    ``DENSE_RANK() OVER (ORDER BY person, service_date)`` per family
    plus a separate episode ranking
    (``load_stage.apcd_claim_header.R:905-1018``) — a single-task
    funnel on Spark. This form pays exactly one fact-grain shuffle for
    all families together:

      1. one range exchange of ``facts`` by PERSON (equal persons
         never straddle partitions), sorted (person, date) in place;
      2. one Arrow-batched pass per partition computing, per family,
         the running count of DISTINCT FLAGGED (person, date) keys —
         dense_rank == count of participating keys at-or-before — and
         per episode family the Yale gap-chain start events, all as
         numpy cumsums with O(1) carried state between record batches;
      3. per-partition totals -> prefix-sum offsets (one integer
         per partition and family), folded back as literal lookups;
         id = local + offset, masked by the ROW's own flag so a
         non-participating claim on a shared service date stays NULL.

    Justification for the Python crossing: Spark SQL cannot express a
    per-physical-partition running aggregate — Window.partitionBy(
    spark_partition_id()) does not recognize the existing range
    partitioning and stacks a second full exchange + sort on top
    (measured in the executed plan). The crossing carries only the
    narrow minting projection (ints + a date), every kernel is
    vectorized, and it replaces two fact-grain shuffles, a window sort
    and a join-back — the bounded-crossing standard set by the BLAS
    block-cosine path.

    ``families``: (flag_col, out_col) — id = dense rank of the row's
    (person, date) key among flagged keys, ordered (person, date).
    ``episode_families``: (member_flag_cols, out_col, merge_gap_days)
    — member keys chain into episodes while consecutive member dates
    are <= gap apart; id is dense over (person, episode_start).
    ``date_col`` AND ``person_col`` must be non-null: claim service
    dates are in every caller, and callers with nullable person keys
    pre-coalesce NULL to a sentinel (the mcaid/mcare/combined builders
    all do; pinned by ``test_dense_event_ids_inline_null_person_
    sentinel``). The batch-boundary carry compares raw key values, so
    an un-coalesced NULL person would compare unequal to itself across
    an Arrow batch split and mint a duplicate id. Equal (person, date)
    rows may arrive in any order within the key — ids are key-level so
    the tiebreak cannot matter.

    Returns ``facts`` (same rows, eagerly checkpointed as in
    ``dense_global_id``) plus one nullable long column per family.
    """
    episode_families = episode_families or []
    flag_names = [flag for flag, _ in families]
    ep_specs = list(episode_families)
    n_fam = len(flag_names)
    n_tot = n_fam + len(ep_specs)
    loc_names = (
        [f"_loc_{out}" for _, out in families]
        + [f"_loc_{out}" for _, out, _ in ep_specs]
    )
    member_exprs = {}
    for i, (members, _, _) in enumerate(ep_specs):
        cond = None
        for m in members:
            c = F.col(m) == 1
            cond = c if cond is None else (cond | c)
        member_exprs[f"_epmem_{i}"] = F.when(cond, 1).otherwise(0)
    prepped = facts.withColumns(member_exprs) if member_exprs else facts
    ep_mem_names = list(member_exprs)

    if num_partitions:
        ranged = prepped.repartitionByRange(num_partitions, person_col)
    else:
        ranged = prepped.repartitionByRange(person_col)
    ranged = ranged.sortWithinPartitions(person_col, date_col)

    fields = ", ".join(
        f"`{name}` {dtype}" for name, dtype in prepped.dtypes
    )
    out_schema = (
        fields + ", `_pid` int, "
        + ", ".join(f"`{c}` long" for c in loc_names)
    )

    def _group_first_flags(flags, key_change, carry_seen):
        """Vectorized: 1 where this row is the FIRST flagged row of its
        (person, date) key, given ``carry_seen`` = whether the key
        continuing from the previous batch was already flagged."""
        import numpy as np

        n = len(flags)
        excl = np.cumsum(flags) - flags  # flagged rows strictly before
        # per-row baseline: flagged rows before this row's KEY started
        starts = np.nonzero(key_change)[0]
        base = np.zeros(n, dtype="int64")
        if len(starts):
            base[starts] = excl[starts]
            np.maximum.accumulate(base, out=base)
        in_key_before = excl - base
        if len(starts) == 0 or starts[0] != 0:
            # leading rows continue the carried key
            lead = slice(0, starts[0] if len(starts) else n)
            in_key_before[lead] += 1 if carry_seen else 0
        first = (flags == 1) & (in_key_before == 0)
        # new carry: is the LAST key of the batch flagged so far?
        if len(starts):
            last_flagged = (excl[-1] + flags[-1] - base[-1]) > 0
        else:
            last_flagged = carry_seen or (excl[-1] + flags[-1]) > 0
        return first.astype("int64"), bool(last_flagged)

    def _running(iterator):
        # mapInArrow, not mapInPandas: the pass-through columns never
        # leave Arrow (zero conversion), person/flag columns view as
        # numpy ints zero-copy, and date32 casts to raw epoch-day
        # int32s so the gap math is integer subtraction
        from pyspark import TaskContext
        import numpy as np
        import pyarrow as pa
        import pyarrow.compute as pc

        pid = TaskContext.get().partitionId()
        run = np.zeros(n_tot, dtype="int64")
        # explicit has-carry flag (not a None-sentinel on the person
        # value): 'no previous batch yet' and 'previous person was
        # NULL' must not conflate — see the non-null person_col
        # precondition in the docstring
        has_carry = False
        carry_person = None
        carry_date = None
        carry_seen = [False] * n_tot
        # per episode family: (person, day) of the last MEMBER row —
        # the gap chain resets on person change
        last_mem = [(None, None)] * len(ep_specs)
        for batch in iterator:
            m = batch.num_rows
            if m == 0:
                continue
            names = batch.schema.names
            persons = batch.column(
                names.index(person_col)
            ).to_numpy(zero_copy_only=False)
            date_arr = batch.column(names.index(date_col))
            days = pc.cast(date_arr, pa.int32()).to_numpy(
                zero_copy_only=False
            ).astype("int64")
            key_change = np.ones(m, dtype=bool)
            key_change[1:] = (persons[1:] != persons[:-1]) | (
                days[1:] != days[:-1]
            )
            if (
                has_carry
                and persons[0] == carry_person
                and days[0] == carry_date
            ):
                key_change[0] = False
            locs = np.empty((m, n_tot), dtype="int64")
            for j, flag in enumerate(flag_names):
                fl = pc.fill_null(
                    batch.column(names.index(flag)), 0
                ).to_numpy(zero_copy_only=False).astype("int64")
                first, carry_seen[j] = _group_first_flags(
                    fl, key_change, carry_seen[j]
                )
                locs[:, j] = run[j] + np.cumsum(first)
            for gi, (_, _, gap) in enumerate(ep_specs):
                k = n_fam + gi
                mem = batch.column(
                    names.index(ep_mem_names[gi])
                ).to_numpy(zero_copy_only=False).astype("int64")
                first, carry_seen[k] = _group_first_flags(
                    mem, key_change, carry_seen[k]
                )
                midx = np.nonzero(first)[0]
                events = np.zeros(m, dtype="int64")
                if len(midx):
                    dm = days[midx]
                    pm = persons[midx]
                    s = np.empty(len(midx), dtype=bool)
                    s[1:] = (pm[1:] != pm[:-1]) | (
                        (dm[1:] - dm[:-1]) > gap
                    )
                    lp, ld = last_mem[gi]
                    if lp is None or pm[0] != lp:
                        s[0] = True
                    else:
                        s[0] = (dm[0] - ld) > gap
                    events[midx] = s.astype("int64")
                    last_mem[gi] = (pm[-1], dm[-1])
                locs[:, k] = run[k] + np.cumsum(events)
            run = locs[-1, :].copy()
            has_carry = True
            carry_person = persons[-1]
            carry_date = days[-1]
            arrays = list(batch.columns)
            arrays.append(pa.array(np.full(m, pid, dtype="int32")))
            for j in range(n_tot):
                arrays.append(pa.array(locs[:, j]))
            yield pa.RecordBatch.from_arrays(
                arrays, names=names + ["_pid"] + loc_names
            )

    ranked = ranged.mapInArrow(_running, out_schema).localCheckpoint(
        eager=True
    )
    ids = _offset_ids(ranked, loc_names)
    # mask each id by the ROW's own participation flag
    masks = flag_names + ep_mem_names
    outs = [out for _, out in families] + [out for _, out, _ in ep_specs]
    return ranked.select(
        *facts.columns,
        *[
            F.when(F.col(m) == 1, i).alias(out)
            for m, i, out in zip(masks, ids, outs)
        ],
    )
