"""Custom stateful streaming operators via applyInPandasWithState
(SURVEY.md §2.8 / the build brief's 'applyInPandasWithState for custom
stateful operators').

This is the escape hatch for streaming semantics the built-in operators
can't express: arbitrary per-key state evolved across micro-batches, with
Arrow-batched Python at the group boundary. State is a tuple snapshot per
key, checkpointed by Spark; at scale state volume is
O(distinct keys × state width) spread across executors — the same cost
model as a Flink keyed process function.
"""

from __future__ import annotations

import os
import re
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from ..plans.cep_core import _CMP_OPS, _scalar


def running_totals(
    stream_df: DataFrame, key_col: str, value_col: str
) -> DataFrame:
    """Per-key running (count, sum, max) maintained across micro-batches —
    the canonical keyed-process-function example. Emits the updated totals
    for each key touched in each batch (changelog/update semantics, like a
    Flink non-windowed keyed aggregate)."""

    out_schema = f"{key_col} long, n long, total double, peak double"
    state_schema = "n long, total double, peak double"

    def update(
        key: tuple,
        batches: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        if state.exists:
            n, total, peak = state.get
        else:
            n, total, peak = 0, 0.0, float("-inf")
        for pdf in batches:
            n += len(pdf)
            total += float(pdf[value_col].sum())
            peak = max(peak, float(pdf[value_col].max()))
        state.update((n, total, peak))
        yield pd.DataFrame(
            {key_col: [key[0]], "n": [n], "total": [total], "peak": [peak]}
        )

    return stream_df.groupBy(key_col).applyInPandasWithState(
        update,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def run_flags_stream(
    stream_df: DataFrame,
    key_col: str,
    ts_col: str,
    run_flag_col: str,
    end_flag_col: str,
    tiebreak_col: str | None = None,
    prev_spec: tuple | None = None,
    payload_spec: tuple | None = None,
    agg_spec: list | None = None,
) -> DataFrame:
    """Streaming matcher for PATTERN (A+ B) with ARBITRARY row-local
    predicates that may OVERLAP (a row can satisfy both A and B) —
    reproducing the batch NFA's greedy backtracking under AFTER MATCH
    SKIP PAST LAST ROW with O(1) state per key:

    - a run row satisfying BOTH predicates is consumed greedily as A but
      remembered as the latest in-run end candidate (``pend``);
    - when a row breaks the run (fails A): if it satisfies B the longest
      match emits (run, break row); otherwise the remembered candidate
      emits ((run up to pend-1), pend) — rows after ``pend`` cannot
      contain a later candidate (pend is the LAST B-satisfying run row)
      and the break row kills any remainder run, so a full reset is
      exact.

    A match is finalized only when a row fails A — the same
    longest-match-needs-a-terminator contract as Flink CEP's greedy
    unbounded quantifier. WITHIN is not supported here: a too-old run
    start would require re-anchoring the match start mid-run, which
    needs the run rows' timestamps (unbounded state); the router
    rejects that combination loudly. ``prev_spec`` adds physical
    PREV(col, n) comparison conjuncts per flag (run flag, then end
    flag), evaluated against the last max(n) rows kept in the same
    state (see module note above).

    ``payload_spec`` = ([(role, col), ...], {col: sql_type}) carries
    MEASURE columns through bounded state, emitted as ``{role}_{col}``:
    role "last" / "last{j}" reads the run's final A row / the j-th row
    before it (SQL:2016 LAST(A.col, j) — round 9: the state keeps the
    last K+1 run-row payload tuples where K is the largest offset
    requested, a COMPILE-TIME bound, so state stays O(K) per key;
    offsets past the run length emit NULL); "first" / "first{j}" reads
    the run's first rows (the first K+1 payloads, frozen as they
    arrive — the pend backtrack keeps the same start row, and entries
    past the BACKTRACKED run length are gated off at emission); "end"
    reads the single B row (any offset >= 1 on it is NULL by
    definition — the engine emits that literal without a payload).
    The pend snapshot copies the pre-pend history so the backtracked
    match reads exactly its own rows. ``agg_spec`` =
    [(fn, role, col_or_None, alias, out_type), ...] adds AGGREGATE
    measures: role "run" aggregates over the run's rows through O(1)
    ACCUMULATORS (count/sum/min/max maintained incrementally, with a
    pend snapshot for the backtrack candidate — exactly how Flink CEP
    folds aggregates into partial-match state); role "end" reads the
    single B row. Emits (key, first_ts, last_ts, end_ts
    [, last_*/first_*/end_*..., agg aliases...])."""
    pay_pairs, pay_types = [], {}
    if payload_spec is not None:
        pay_pairs, pay_types = payload_spec
    aggs = list(agg_spec or [])
    end_agg_cols = {
        c for _, role, c, _, _ in aggs if role == "end" and c is not None
    }
    arun_cols = sorted(
        {c for _, role, c, _, _ in aggs if role == "run" and c is not None}
    )
    pcols = sorted({c for _, c in pay_pairs} | end_agg_cols)

    def _role(role: str) -> tuple[str, int]:
        m = re.fullmatch(r"(last|first|end)(\d*)", role)
        if m is None:
            raise ValueError(f"run matcher payload role {role!r}")
        return m.group(1), int(m.group(2) or 0)

    roles = [(_role(role), c) for role, c in pay_pairs]
    # K: largest logical offset any measure requests — the history
    # depth kept in state (compile-time bound; 0 = classic single slots)
    K = max((off for (_, off), _ in roles), default=0)
    key_type = stream_df.schema[key_col].dataType.simpleString()
    out_schema = (
        f"{key_col} {key_type}, first_ts timestamp, last_ts timestamp, "
        "end_ts timestamp"
        + "".join(f", {role}_{c} {pay_types[c]}" for role, c in pay_pairs)
        + "".join(f", {alias} {out_t}" for _, _, _, alias, out_t in aggs)
    )
    state_schema = (
        "run_start timestamp, run_last timestamp, "
        "pend timestamp, pend_prev timestamp"
        # payload histories: last K+1 run rows (rl), their pend snapshot
        # (pp), first K+1 run rows (fs), and the pend row itself (pe)
        + "".join(
            f", {tag}{i}_{c} {pay_types[c]}"
            for tag in ("rl", "pp", "fs")
            for i in range(K + 1)
            for c in pcols
        )
        + "".join(f", pe_{c} {pay_types[c]}" for c in pcols)
    )
    npay = len(pcols)
    hist_w = npay * (K + 1)
    pay_state_off = 4
    n_ac = len(arun_cols)
    agg_state = bool(aggs)
    len_state = agg_state or K > 0  # run lengths gate offset validity
    if K > 0 and not agg_state:
        state_schema += ", rlen long, p_rlen long"
    if agg_state:
        # run length + per-run-agg-col accumulators (count, sum, min,
        # max) and their pend snapshots
        state_schema += ", rlen long, p_rlen long" + "".join(
            f", {t}_{c} {ty}"
            for c in arun_cols
            for t, ty in (
                ("ac", "long"), ("asm", "double"),
                ("amn", "double"), ("amx", "double"),
                ("qc", "long"), ("qsm", "double"),
                ("qmn", "double"), ("qmx", "double"),
            )
        )
    agg_off = pay_state_off + 3 * hist_w + npay
    len_width = 2 if len_state else 0
    agg_width = len_width + (8 * n_ac if agg_state else 0)
    checks_per_flag, need_cols, max_prev = [], [], 0
    if prev_spec is not None:
        checks_per_flag, need_cols, max_prev, col_types = prev_spec
        state_schema += ", " + _prev_schema_suffix(
            need_cols, max_prev, col_types
        )

    def update(
        key: tuple,
        batches: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        vhist: list[dict] = []
        none_pay = (None,) * npay

        def _load_hist(vals, off, n):
            """History slots -> the first ``n`` payload tuples. The
            length comes from the TRACKED run lengths, never from
            None-sniffing — a payload row whose measured columns are
            all legitimately NULL must keep its slot."""
            return [
                tuple(vals[off + i * npay : off + (i + 1) * npay])
                for i in range(n)
            ]

        def _flat_hist(hist):
            pad = [none_pay] * (K + 1 - len(hist))
            flat: list = []
            for tup in list(hist) + pad:
                flat += list(tup)
            return flat

        rl_hist: list[tuple] = []
        pp_hist: list[tuple] = []
        fs_hist: list[tuple] = []
        pe_pay = none_pay
        # run-aggregate accumulators: {col: [cnt, sum, min, max]} for
        # the live run and the pend snapshot, plus the run lengths
        rlen = p_rlen = 0
        acc = {c: [0, 0.0, None, None] for c in arun_cols}
        pacc = {c: [0, 0.0, None, None] for c in arun_cols}
        if state.exists:
            vals = state.get
            run_start, run_last, pend, pend_prev = vals[:4]
            if len_state:
                rlen = vals[agg_off] or 0
                p_rlen = vals[agg_off + 1] or 0
            else:
                # K == 0, no aggregates: single-slot histories whose
                # lengths follow from the run/pend liveness alone
                rlen = 0 if run_start is None else 1
                p_rlen = 0 if pend is None else 1
            if npay:
                n_live = 0 if run_start is None else min(rlen, K + 1)
                n_pend = 0 if pend is None else min(p_rlen, K + 1)
                rl_hist = _load_hist(vals, pay_state_off, n_live)
                pp_hist = _load_hist(vals, pay_state_off + hist_w, n_pend)
                fs_hist = _load_hist(
                    vals, pay_state_off + 2 * hist_w, n_live
                )
                pe_pay = tuple(
                    vals[pay_state_off + 3 * hist_w :
                         pay_state_off + 3 * hist_w + npay]
                )
            if agg_state:
                for i, c in enumerate(arun_cols):
                    base = agg_off + 2 + 8 * i
                    acc[c] = [
                        vals[base] or 0, vals[base + 1] or 0.0,
                        vals[base + 2], vals[base + 3],
                    ]
                    pacc[c] = [
                        vals[base + 4] or 0, vals[base + 5] or 0.0,
                        vals[base + 6], vals[base + 7],
                    ]
            if max_prev:
                vhist = _prev_load(
                    vals, agg_off + agg_width, need_cols, max_prev
                )
        else:
            run_start, run_last, pend, pend_prev = None, None, None, None
        firsts, lasts, ends = [], [], []
        # per match: (last_hist, end_pay, first_hist, match_run_len)
        pays: list[tuple] = []
        agg_outs: list[list] = []

        def _acc_add(c, v):
            if v is None:
                return
            a = acc[c]
            v = float(v)
            a[0] += 1
            a[1] += v
            a[2] = v if a[2] is None else min(a[2], v)
            a[3] = v if a[3] is None else max(a[3], v)

        def _finalize(run_len, accs, end_tuple):
            return _agg_finalize(
                aggs, pcols, run_len, accs, {"end": end_tuple}
            )
        for pdf in batches:
            sort_cols = [ts_col] + ([tiebreak_col] if tiebreak_col else [])
            pdf = pdf.sort_values(sort_cols)
            a_flags = pdf[run_flag_col].fillna(False).to_numpy(dtype=bool)
            b_flags = pdf[end_flag_col].fillna(False).to_numpy(dtype=bool)
            ts_vals = list(pdf[ts_col])
            need_vals = {c: list(pdf[c]) for c in need_cols}
            pay_vals = {c: list(pdf[c]) for c in pcols}
            arun_vals = {c: list(pdf[c]) for c in arun_cols}
            for r in range(len(pdf)):
                a, b, cur_ts = a_flags[r], b_flags[r], ts_vals[r]
                cur_pay = (
                    tuple(_scalar(pay_vals[c][r]) for c in pcols)
                    if npay
                    else none_pay
                )
                if max_prev:
                    cur_vals = {
                        c: _scalar(need_vals[c][r]) for c in need_cols
                    }
                    if a and checks_per_flag[0]:
                        a = _prev_ok(checks_per_flag[0], cur_vals, vhist)
                    if b and checks_per_flag[1]:
                        b = _prev_ok(checks_per_flag[1], cur_vals, vhist)
                    vhist.append(cur_vals)
                    vhist = vhist[-max_prev:]
                if run_start is None:
                    if a:
                        run_start = run_last = cur_ts
                        rl_hist = [cur_pay]
                        fs_hist = [cur_pay]
                        pend = pend_prev = None
                        rlen, p_rlen = 1, 0
                        if agg_state:
                            acc = {
                                c: [0, 0.0, None, None]
                                for c in arun_cols
                            }
                            pacc = {
                                c: [0, 0.0, None, None]
                                for c in arun_cols
                            }
                            for c in arun_cols:
                                _acc_add(c, _scalar(arun_vals[c][r]))
                elif a:
                    if b:
                        pend, pend_prev = cur_ts, run_last
                        pe_pay = cur_pay
                        # backtrack snapshot: run BEFORE this row
                        pp_hist = list(rl_hist)
                        p_rlen = rlen
                        if agg_state:
                            pacc = {c: list(acc[c]) for c in arun_cols}
                    run_last = cur_ts
                    rl_hist = (rl_hist + [cur_pay])[-(K + 1):]
                    if len(fs_hist) <= K:
                        fs_hist.append(cur_pay)
                    rlen += 1
                    if agg_state:
                        for c in arun_cols:
                            _acc_add(c, _scalar(arun_vals[c][r]))
                elif b:
                    firsts.append(run_start)
                    lasts.append(run_last)
                    ends.append(cur_ts)
                    pays.append((rl_hist, cur_pay, fs_hist, rlen))
                    if agg_state:
                        agg_outs.append(_finalize(rlen, acc, cur_pay))
                    run_start = run_last = pend = pend_prev = None
                    rl_hist, pp_hist, fs_hist = [], [], []
                    rlen = p_rlen = 0
                else:
                    if pend is not None:
                        # the backtracked match starts at the SAME run
                        # start row, so fs_hist carries over; entries
                        # past the backtracked length gate off via the
                        # emitted match_run_len
                        firsts.append(run_start)
                        lasts.append(pend_prev)
                        ends.append(pend)
                        pays.append((pp_hist, pe_pay, fs_hist, p_rlen))
                        if agg_state:
                            agg_outs.append(
                                _finalize(p_rlen, pacc, pe_pay)
                            )
                    run_start = run_last = pend = pend_prev = None
                    rl_hist, pp_hist, fs_hist = [], [], []
                    rlen = p_rlen = 0
        st = [run_start, run_last, pend, pend_prev]
        if npay:
            st += (
                _flat_hist(rl_hist) + _flat_hist(pp_hist)
                + _flat_hist(fs_hist) + list(pe_pay)
            )
        if len_state:
            st += [rlen, p_rlen]
        if agg_state:
            for c in arun_cols:
                st += list(acc[c]) + list(pacc[c])
        if max_prev:
            st += _prev_flat(vhist, need_cols, max_prev)
        state.update(tuple(st))
        if firsts:
            data = {
                key_col: [key[0]] * len(firsts),
                "first_ts": firsts,
                "last_ts": lasts,
                "end_ts": ends,
            }
            for ((base, off), c), (role, _c2) in zip(roles, pay_pairs):
                ci = pcols.index(c)

                def val(p, base=base, off=off, ci=ci):
                    last_hist, end_pay, first_hist, mlen = p
                    if base == "end":
                        return end_pay[ci] if off == 0 else None
                    if mlen <= off:
                        return None  # offset past the mapped run rows
                    if base == "first":
                        return first_hist[off][ci]
                    return last_hist[-1 - off][ci]

                data[f"{role}_{c}"] = [val(p) for p in pays]
            for j, (_, _, _, alias, _) in enumerate(aggs):
                data[alias] = pd.Series(
                    [row[j] for row in agg_outs], dtype=object
                )
            yield pd.DataFrame(data)

    return stream_df.groupBy(key_col).applyInPandasWithState(
        update,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def ast_max_len(node) -> int:
    """Maximum rows a bounded pattern AST can consume (raises on an
    unbounded quantifier — those stream through the run matchers or
    stay batch-only)."""
    kind = node[0]
    if kind == "var":
        return 1
    if kind in ("seq", "permute"):
        return sum(ast_max_len(c) for c in node[1])
    if kind == "alt":
        return max(ast_max_len(c) for c in node[1])
    _, child, _, hi, _ = node
    if hi is None:
        raise ValueError("unbounded quantifier in a bounded-window plan")
    return hi * ast_max_len(child)


def ast_reach(node, next_off, at=0) -> int:
    """Furthest row (0-based from the match start) a head-anchored match
    of a bounded pattern can read: over the variables, the latest
    position each can map plus its largest NEXT offset ``next_off[var]``.
    ``at`` is the latest row the node can start at."""
    kind = node[0]
    if kind == "var":
        return at + next_off.get(node[1], 0)
    if kind == "alt":
        return max(ast_reach(c, next_off, at) for c in node[1])
    if kind == "permute":
        total = ast_max_len(node)
        return max(
            ast_reach(c, next_off, at + total - ast_max_len(c))
            for c in node[1]
        )
    if kind == "seq":
        reach = at
        for c in node[1]:
            reach = max(reach, ast_reach(c, next_off, at))
            at += ast_max_len(c)
        return reach
    _, child, _, hi, _ = node
    last = at + (max(hi, 1) - 1) * ast_max_len(child)
    return ast_reach(child, next_off, last)


def _agg_finalize(aggs, pcols, run_len, accs, single_rows):
    """Aggregate-measure values at match emission for the O(1)-state
    run matchers. ``aggs`` = [(fn, role, col_or_None, alias, out_type)];
    a role in ``single_rows`` reads one row's payload tuple (indexed by
    ``pcols``); the run role reads the incremental accumulators
    ``accs[col] = [cnt, sum, min, max]`` and ``run_len`` for COUNT(*).
    Integral out types cast back from the double accumulators (exact
    below 2^53 — the batch pandas int64 sum differs only beyond that)."""
    out = []
    for fn, role, c, _, out_t in aggs:
        integral = out_t in ("tinyint", "smallint", "int", "bigint")
        if role in single_rows:
            row = single_rows[role]
            v = None if c is None else row[pcols.index(c)]
            if fn == "count":
                out.append(1 if (c is None or v is not None) else 0)
            elif v is None:
                out.append(None)
            elif fn == "avg":
                out.append(float(v))
            else:
                out.append(v)
            continue
        if fn == "count" and c is None:
            out.append(run_len)
            continue
        cnt, sm, mn, mx = accs[c]
        if fn == "count":
            out.append(cnt)
        elif cnt == 0:
            out.append(None)
        elif fn == "sum":
            out.append(int(sm) if integral else sm)
        elif fn == "avg":
            out.append(sm / cnt)
        elif fn == "min":
            out.append(int(mn) if integral else mn)
        else:
            out.append(int(mx) if integral else mx)
    return out


#: time-bounded window safety valve: a key whose undecided window
#: exceeds this many rows raises loudly instead of growing state
#: silently (the analog of Flink's state-size alerts for a WITHIN
#: span x rate that outgrows the executor). Deployments whose genuine
#: break-free stretches exceed the default raise it via
#: SPARK_GRAFT_CEP_ROW_CAP (sized to rows-per-key that fit executor
#: memory) instead of editing code — the error message names the knob.
TIME_WINDOW_ROW_CAP = int(os.environ.get("SPARK_GRAFT_CEP_ROW_CAP", "4096"))


def bounded_nfa_stream(
    stream_df: DataFrame,
    key_col: str,
    ts_col: str,
    var_flags: dict[str, str],
    pattern_vars: list[str],
    ast,
    spec,
    cols: list[str],
    tiebreak_col: str | None = None,
    checks: dict | None = None,
    prev_spec: tuple | None = None,
    next_spec: tuple | None = None,
    time_bounded: bool = False,
    break_decided: bool = False,
) -> DataFrame:
    """The decision-window streaming matcher: per key, a window of the
    rows that may still start or join a match, in keyed state. The
    start at the window head is DECIDED once no later row can change
    its outcome; then the shared CEP core (plans/cep_core) matches it,
    walks the skip and emits the measures — the batch NFA's decisions,
    run per key. Three decision rules, one state layout:

    - length (default): a BOUNDED pattern (plain sequences,
      quantifiers A{n,m} / A?, alternation, quantified and nested
      groups, PERMUTE as the alternation of its orderings) spans at
      most Lmax rows, so the head decides once G rows have arrived,
      G = max(Lmax, R + 1) with R the furthest row a head-anchored
      match can read (``ast_reach``: each variable's latest position
      plus its NEXT offset) — a NEXT that stays inside the match
      decides with the match's last row; state O(keys x G);
    - ``time_bounded=True``: an UNBOUNDED pattern under WITHIN W decides
      the head once a row later than head_ts + W arrives (arrival
      order: every row that could still join has been seen) — state
      O(per-key rate x W), the state Flink's CEP operator keeps;
    - ``break_decided=True``: an UNBOUNDED pattern without WITHIN
      decides the head once a BREAK row (one matching no variable)
      sits in the window — no match can span it — so state is the
      longest break-free stretch, Flink CEP's partial-match state.

    The unbounded rules cap the window at TIME_WINDOW_ROW_CAP rows and
    raise loudly past it. Trailing starts whose decision never comes
    stay undecided at stream end (the terminator contract).

    ``spec`` (the parsed MatchRecognizeSpec) supplies MEASURES, the
    PER MATCH mode, skip mode and WITHIN; ``cols`` are the source
    columns each window row carries (every source column under ALL
    ROWS PER MATCH, else the order column plus what measures and
    checks read). ONE ROW emits (key, measures...), ALL ROWS the
    source row + measures per matched row — with WITH UNMATCHED ROWS,
    a row no match covers emits once with NULL measures when it leaves
    the window. ``checks``: compiled cross-variable DEFINE parts
    (cep_core.split_defines); ``prev_spec`` / ``next_spec``: physical
    PREV conjuncts evaluated at arrival against a bounded value
    history, and NEXT conjuncts evaluated at decision time against
    window successors (``next_spec`` = (checks per variable, largest
    NEXT offset per variable)). State: ``mn`` (the MATCH_NUMBER()
    counter), per window row its variable bitmask, covered flag and
    carried values — G - 1 fixed slots under the length rule, arrays
    (``ms``, ``cs``, ``w_<col>``) under the unbounded rules — then the
    PREV history."""
    from pyspark.sql import types as T

    from ..plans.cep_core import (
        match_at,
        measure_emitter,
        measure_fields,
        next_start,
    )

    nchecks, next_off = ({}, {}) if next_spec is None else next_spec
    max_next = max(next_off.values(), default=0)
    if time_bounded and break_decided:
        raise ValueError("time_bounded and break_decided are exclusive")
    within = spec.within_seconds
    if time_bounded and within is None:
        raise ValueError("time_bounded needs within_seconds")
    max_len = 2 if time_bounded or break_decided else ast_max_len(ast)
    if max_len < 2:
        raise ValueError("bounded pattern must span at least 2 rows")
    var_bit = {v: i for i, v in enumerate(pattern_vars)}
    src = {f.name: f for f in stream_df.schema.fields}
    m_fields = measure_fields(spec, stream_df.schema)
    emit = measure_emitter(spec, m_fields)
    all_rows = spec.all_rows
    out_schema = T.StructType(
        ([src[c] for c in cols] if all_rows else [src[key_col]]) + m_fields
    )
    out_names = [f.name for f in out_schema.fields]
    types = [src[c].dataType.simpleString() for c in cols]
    # the length rule holds at most hist rows after each arrival: FIXED
    # slots (measured faster than arrays on an Lmax statement); the
    # unbounded rules keep a variable number of rows in ARRAYS
    hist = None
    if not (time_bounded or break_decided):
        hist = max(max_len, ast_reach(ast, next_off) + 1) - 1
    stride = 2 + len(cols)
    if hist is None:
        state_schema = "mn long, ms array<long>, cs array<boolean>" + "".join(
            f", w_{c} array<{t}>" for c, t in zip(cols, types)
        )
        prev_at = 3 + len(cols)
    else:
        state_schema = "mn long, " + ", ".join(
            f"m{i} long, c{i} boolean"
            + "".join(f", w{i}_{c} {t}" for c, t in zip(cols, types))
            for i in range(hist)
        )
        prev_at = 1 + stride * hist
    col_at = {c: i for i, c in enumerate(cols)}
    ts_idx = col_at[ts_col]
    flag_cols = [var_flags[v] for v in pattern_vars]
    pchecks, need_cols, max_prev = {}, [], 0
    if prev_spec is not None:
        pchecks, need_cols, max_prev, prev_col_types = prev_spec
        state_schema += ", " + _prev_schema_suffix(
            need_cols, max_prev, prev_col_types
        )
    skip_past, skip_to = spec.skip_past_last, spec.skip_to
    excluded, with_unmatched = set(spec.excluded), spec.with_unmatched

    def _decidable(masks, rows) -> bool:
        if time_bounded:
            return (
                len(rows) >= 2
                and (rows[-1][ts_idx] - rows[0][ts_idx]).total_seconds()
                > within
            )
        if break_decided:
            if masks and masks[0] == 0:
                return True  # break at the head: no match anchors here
            for j in range(1, len(masks)):
                if masks[j] == 0:
                    # NEXT conjuncts also wait for their targets
                    return len(masks) >= j + max_next
            return False
        return len(masks) > hist

    def update(
        key: tuple,
        batches: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        # the window as parallel lists: variable bitmask, covered flag
        # and carried values per row
        masks: list[int] = []
        covered: list[bool] = []
        rows: list[tuple] = []
        vhist: list[dict] = []
        mn = 0
        if state.exists:
            vals = state.get
            mn = vals[0] or 0
            if hist is None:
                masks = list(vals[1] or [])
                covered = [bool(c) for c in vals[2] or []]
                rows = list(zip(*[vals[3 + ci] or [] for ci in range(len(cols))]))
            else:
                for off in range(1, 1 + stride * hist, stride):
                    if vals[off] is not None:
                        masks.append(vals[off])
                        covered.append(bool(vals[off + 1]))
                        rows.append(tuple(vals[off + 2 : off + stride]))
            if max_prev:
                vhist = _prev_load(vals, prev_at, need_cols, max_prev)
        out_rows: list[list] = []

        def val_at(i, c):
            return rows[i][col_at[c]]

        def drop_head(k_rows: int):
            nonlocal masks, covered, rows
            if with_unmatched:
                for row, cov in zip(rows[:k_rows], covered):
                    if not cov:
                        out_rows.append(list(row) + [None] * len(m_fields))
            masks, covered, rows = (
                masks[k_rows:], covered[k_rows:], rows[k_rows:]
            )

        for pdf in batches:
            pdf = pdf.sort_values(
                [ts_col] + ([tiebreak_col] if tiebreak_col else [])
            )
            flags = [
                pdf[c].fillna(False).to_numpy(dtype=bool) for c in flag_cols
            ]
            col_vals = {c: list(pdf[c]) for c in dict.fromkeys(cols + need_cols)}
            for r in range(len(pdf)):
                cur_vals = None
                if max_prev:
                    cur_vals = {c: _scalar(col_vals[c][r]) for c in need_cols}
                mask = 0
                for b, pv in enumerate(pattern_vars):
                    if flags[b][r] and (
                        not pchecks.get(pv)
                        or _prev_ok(pchecks[pv], cur_vals, vhist)
                    ):
                        mask |= 1 << b
                if max_prev:
                    vhist.append(cur_vals)
                    vhist = vhist[-max_prev:]
                masks.append(mask)
                covered.append(False)
                rows.append(tuple(_scalar(col_vals[c][r]) for c in cols))
                while _decidable(masks, rows):
                    if break_decided and masks[0] == 0:
                        drop_head(1)  # break row at the head
                        continue
                    # lim: the last row a head-anchored match may use
                    # (a break row ends every match before it, so the
                    # break rule needs no bound of its own)
                    lim = len(rows) - 1
                    if within is not None:
                        t0 = rows[0][ts_idx]
                        lim = 0
                        while (
                            lim + 1 < len(rows)
                            and (rows[lim + 1][ts_idx] - t0).total_seconds()
                            <= within
                        ):
                            lim += 1
                    if hist is not None:
                        # G rows hold every row and NEXT target a match
                        # of at most max_len rows can read
                        lim = min(lim, max_len - 1)
                    elif time_bounded and len(rows) - 1 - lim < max_next:
                        break  # NEXT targets have not arrived yet
                    mp = match_at(
                        ast, masks, var_bit, 0, lim, checks, val_at, nchecks
                    )
                    if not mp:
                        drop_head(1)
                        continue
                    mn += 1
                    if all_rows:
                        for _, j in mp:
                            covered[j] = True
                        for t, (row_var, j) in enumerate(mp):
                            if row_var not in excluded:
                                out_rows.append(
                                    list(rows[j]) + emit(mp, t, val_at, mn)
                                )
                    else:
                        out_rows.append(
                            [key[0]] + emit(mp, len(mp) - 1, val_at, mn)
                        )
                    drop_head(next_start(mp, 0, skip_past, skip_to))
        if (time_bounded or break_decided) and len(rows) > TIME_WINDOW_ROW_CAP:
            raise ValueError(
                f"WITHIN window for key {key[0]!r} holds "
                f"{len(rows)} undecided rows (> "
                f"{TIME_WINDOW_ROW_CAP}): "
                + (
                    "no BREAK row (a row matching no pattern "
                    "variable) arrived to bound the partial-match "
                    "state — add a WITHIN bound, raise "
                    "SPARK_GRAFT_CEP_ROW_CAP, or run the "
                    "statement in batch"
                    if break_decided
                    else "the per-key rate x WITHIN span outgrows "
                    "the streaming state bound — shorten WITHIN, "
                    "raise SPARK_GRAFT_CEP_ROW_CAP, or run the "
                    "statement in batch"
                )
            )
        if hist is None:
            flat = [mn, masks, covered, *[list(c) for c in zip(*rows)]]
            if not rows:
                flat += [[] for _ in cols]
        else:
            flat = [mn]
            for mask, cov, row in zip(masks, covered, rows):
                flat += [mask, cov, *row]
            flat += [None] * (prev_at - len(flat))
        if max_prev:
            flat += _prev_flat(vhist, need_cols, max_prev)
        state.update(tuple(flat))
        if out_rows:
            yield pd.DataFrame(out_rows, columns=out_names, dtype=object)

    return stream_df.groupBy(key_col).applyInPandasWithState(
        update,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def mid_run_flags_stream(
    stream_df: DataFrame,
    key_col: str,
    ts_col: str,
    start_flag_col: str,
    run_flag_col: str,
    end_flag_col: str,
    within_seconds: int | None = None,
    tiebreak_col: str | None = None,
    prev_spec: tuple | None = None,
    payload_spec: tuple | None = None,
    agg_spec: list | None = None,
) -> DataFrame:
    """Streaming matcher for PATTERN (A B+ C) with ARBITRARY row-local
    predicates that may OVERLAP — the general-predicate funnel,
    reproducing the batch NFA's greedy backtracking under AFTER MATCH
    SKIP PAST LAST ROW with O(1) state per key:

    - after the A row, B rows extend the run greedily; a run row
      satisfying BOTH B and C is consumed as B but remembered as the
      latest backtrack candidate (``pend`` = that row as C, with the
      run snapshot before it);
    - when a row breaks the run (fails B): if it satisfies C the
      longest match emits (A, run, break row); else if ``pend`` is set
      the remembered candidate emits — rows between pend and the break
      row all fail C (pend is the LAST C-satisfying run row), so no
      alternative start inside them can complete before the break row
      kills every remainder run, making the reset exact; either way
      the break row is then re-examined as a fresh A start (with
      overlapping predicates it may open the next match).

    Leftmost-start priority resolves overlap: a row satisfying A and B
    while a candidate is open is consumed as B (continuing the earliest
    start); if that candidate dies without a match, every start inside
    its span is provably doomed too (its B rows' C-windows are subsets
    of the dead candidate's), so the O(1) single-candidate machine
    equals the batch NFA. A match is finalized only when a row fails B
    — the same longest-match-needs-a-terminator contract as
    ``run_flags_stream``. ``within_seconds`` drops a match at emission
    when its C row is more than that many seconds after its A row;
    exact only for provably disjoint predicates (no other A row can sit
    inside the run to re-anchor to), the only case the router passes
    it. ``prev_spec`` adds physical PREV(col, n)
    comparison conjuncts per flag (start, run, end), evaluated against
    the last max(n) rows kept in the same state. ``payload_spec`` =
    ([(role, col), ...], {col: sql_type}) with role "start" (the A
    row), "last"/"last{j}" (the run's final B row / the j-th before it
    — SQL:2016 LAST(B.col, j), read from the last K+1 run-row payload
    history where K is the largest offset, a compile-time state bound,
    with a pend snapshot so the backtracked candidate reads its own
    rows; round 9), "first"/"first{j}" (the run's first rows, gated by
    the emitted match's run length) or "end" (the C row), emitted as
    ``{role}_{c}``. Emits (key, a_ts, run_len, run_last_ts, end_ts
    [, start_*/last_*/first_*/end_*...])."""
    pay_pairs, pay_types = [], {}
    if payload_spec is not None:
        pay_pairs, pay_types = payload_spec
    aggs = list(agg_spec or [])
    single_agg_cols = {
        c
        for _, role, c, _, _ in aggs
        if role in ("start", "end") and c is not None
    }
    arun_cols = sorted(
        {c for _, role, c, _, _ in aggs if role == "run" and c is not None}
    )
    pcols = sorted({c for _, c in pay_pairs} | single_agg_cols)

    def _role(role: str) -> tuple[str, int]:
        m = re.fullmatch(r"(start|last|first|end)(\d*)", role)
        if m is None:
            raise ValueError(f"funnel matcher payload role {role!r}")
        return m.group(1), int(m.group(2) or 0)

    roles = [(_role(role), c) for role, c in pay_pairs]
    # K: largest logical offset on the B+ run — the history depth kept
    # in state (compile-time bound; 0 = classic single slots)
    K = max((off for (_, off), _ in roles), default=0)
    key_type = stream_df.schema[key_col].dataType.simpleString()
    out_schema = (
        f"{key_col} {key_type}, a_ts timestamp, run_len long, "
        "run_last_ts timestamp, end_ts timestamp"
        + "".join(f", {role}_{c} {pay_types[c]}" for role, c in pay_pairs)
        + "".join(f", {alias} {out_t}" for _, _, _, alias, out_t in aggs)
    )
    state_schema = (
        "phase int, a_ts timestamp, run_last timestamp, run_len long, "
        "pend timestamp, pend_run_last timestamp, pend_run_len long"
        # payloads: A row (ap), last K+1 run rows (rl), their pend
        # snapshot (pl), the pend row (pe), first K+1 run rows (fb)
        + "".join(f", ap_{c} {pay_types[c]}" for c in pcols)
        + "".join(
            f", {tag}{i}_{c} {pay_types[c]}"
            for tag in ("rl", "pl", "fb")
            for i in range(K + 1)
            for c in pcols
        )
        + "".join(f", pe_{c} {pay_types[c]}" for c in pcols)
    )
    npay = len(pcols)
    hist_w = npay * (K + 1)
    base_off = 7
    n_ac = len(arun_cols)
    agg_state = bool(aggs)
    if agg_state:
        state_schema += "".join(
            f", {t}_{c} {ty}"
            for c in arun_cols
            for t, ty in (
                ("ac", "long"), ("asm", "double"),
                ("amn", "double"), ("amx", "double"),
                ("qc", "long"), ("qsm", "double"),
                ("qmn", "double"), ("qmx", "double"),
            )
        )
    agg_off = base_off + 2 * npay + 3 * hist_w
    agg_width = 8 * n_ac if agg_state else 0
    checks_per_flag, need_cols, max_prev = [], [], 0
    if prev_spec is not None:
        checks_per_flag, need_cols, max_prev, col_types = prev_spec
        state_schema += ", " + _prev_schema_suffix(
            need_cols, max_prev, col_types
        )

    def update(
        key: tuple,
        batches: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        vhist: list[dict] = []
        none_pay = (None,) * npay
        ap_pay = pe_pay = none_pay
        rl_hist: list[tuple] = []
        pl_hist: list[tuple] = []
        fb_hist: list[tuple] = []

        def _load_hist(vals, off, n):
            # lengths derive from the TRACKED run lengths, never from
            # None-sniffing (an all-NULL payload row keeps its slot)
            return [
                tuple(vals[off + i * npay : off + (i + 1) * npay])
                for i in range(n)
            ]

        if state.exists:
            vals = state.get
            (
                phase, a_ts, run_last, run_len,
                pend, pend_run_last, pend_run_len,
            ) = vals[:7]
            if npay:
                ap_pay = tuple(vals[7 : 7 + npay])
                n_live = 0 if phase != 2 else min(run_len or 0, K + 1)
                n_pend = (
                    0 if pend is None else min(pend_run_len or 0, K + 1)
                )
                rl_hist = _load_hist(vals, 7 + npay, n_live)
                pl_hist = _load_hist(vals, 7 + npay + hist_w, n_pend)
                fb_hist = _load_hist(
                    vals, 7 + npay + 2 * hist_w, n_live
                )
                pe_pay = tuple(
                    vals[7 + npay + 3 * hist_w :
                         7 + npay + 3 * hist_w + npay]
                )
        else:
            phase, a_ts, run_last, run_len = 0, None, None, 0
            pend, pend_run_last, pend_run_len = None, None, 0
        acc = {c: [0, 0.0, None, None] for c in arun_cols}
        pacc = {c: [0, 0.0, None, None] for c in arun_cols}
        if state.exists and agg_state:
            vals0 = state.get
            for i, c in enumerate(arun_cols):
                base = agg_off + 8 * i
                acc[c] = [
                    vals0[base] or 0, vals0[base + 1] or 0.0,
                    vals0[base + 2], vals0[base + 3],
                ]
                pacc[c] = [
                    vals0[base + 4] or 0, vals0[base + 5] or 0.0,
                    vals0[base + 6], vals0[base + 7],
                ]
        if state.exists and max_prev:
            vhist = _prev_load(
                state.get, agg_off + agg_width, need_cols, max_prev
            )

        def _acc_add(c, v):
            if v is None:
                return
            a = acc[c]
            v = float(v)
            a[0] += 1
            a[1] += v
            a[2] = v if a[2] is None else min(a[2], v)
            a[3] = v if a[3] is None else max(a[3], v)
        a_out, len_out, last_out, end_out = [], [], [], []
        # per match: (start_pay, last_hist, end_pay, first_hist, mlen)
        pays: list[tuple] = []
        agg_outs: list[list] = []
        for pdf in batches:
            sort_cols = [ts_col] + ([tiebreak_col] if tiebreak_col else [])
            pdf = pdf.sort_values(sort_cols)
            fa_arr = pdf[start_flag_col].fillna(False).to_numpy(dtype=bool)
            fb_arr = pdf[run_flag_col].fillna(False).to_numpy(dtype=bool)
            fc_arr = pdf[end_flag_col].fillna(False).to_numpy(dtype=bool)
            ts_vals = list(pdf[ts_col])
            need_vals = {c: list(pdf[c]) for c in need_cols}
            pay_vals = {c: list(pdf[c]) for c in pcols}
            arun_vals = {c: list(pdf[c]) for c in arun_cols}
            for r in range(len(pdf)):
                fa, fb, fc = fa_arr[r], fb_arr[r], fc_arr[r]
                cur_ts = ts_vals[r]
                cur_pay = (
                    tuple(_scalar(pay_vals[c][r]) for c in pcols)
                    if npay
                    else none_pay
                )
                if max_prev:
                    cur_vals = {
                        c: _scalar(need_vals[c][r]) for c in need_cols
                    }
                    if fa and checks_per_flag[0]:
                        fa = _prev_ok(checks_per_flag[0], cur_vals, vhist)
                    if fb and checks_per_flag[1]:
                        fb = _prev_ok(checks_per_flag[1], cur_vals, vhist)
                    if fc and checks_per_flag[2]:
                        fc = _prev_ok(checks_per_flag[2], cur_vals, vhist)
                    vhist.append(cur_vals)
                    vhist = vhist[-max_prev:]
                if phase == 2:
                    if fb:
                        if fc:
                            # backtrack candidate: this row as C, run
                            # snapshot BEFORE consuming it as B
                            pend = cur_ts
                            pend_run_last, pend_run_len = run_last, run_len
                            pl_hist, pe_pay = list(rl_hist), cur_pay
                            if agg_state:
                                pacc = {
                                    c: list(acc[c]) for c in arun_cols
                                }
                        run_last, run_len = cur_ts, run_len + 1
                        rl_hist = (rl_hist + [cur_pay])[-(K + 1):]
                        if len(fb_hist) <= K:
                            fb_hist.append(cur_pay)
                        if agg_state:
                            for c in arun_cols:
                                _acc_add(c, _scalar(arun_vals[c][r]))
                        continue
                    if fc:
                        a_out.append(a_ts)
                        len_out.append(run_len)
                        last_out.append(run_last)
                        end_out.append(cur_ts)
                        pays.append(
                            (ap_pay, rl_hist, cur_pay, fb_hist, run_len)
                        )
                        if agg_state:
                            agg_outs.append(
                                _agg_finalize(
                                    aggs, pcols, run_len, acc,
                                    {"start": ap_pay, "end": cur_pay},
                                )
                            )
                            acc = {
                                c: [0, 0.0, None, None]
                                for c in arun_cols
                            }
                        phase, a_ts, run_last, run_len = 0, None, None, 0
                        pend, pend_run_last, pend_run_len = None, None, 0
                        rl_hist, pl_hist, fb_hist = [], [], []
                        continue
                    if pend is not None:
                        a_out.append(a_ts)
                        len_out.append(pend_run_len)
                        last_out.append(pend_run_last)
                        end_out.append(pend)
                        # the pend run started at the SAME first B
                        # row, so fb_hist carries over; entries past
                        # the backtracked length gate off via mlen
                        pays.append(
                            (ap_pay, pl_hist, pe_pay, fb_hist,
                             pend_run_len)
                        )
                        if agg_state:
                            agg_outs.append(
                                _agg_finalize(
                                    aggs, pcols, pend_run_len, pacc,
                                    {"start": ap_pay, "end": pe_pay},
                                )
                            )
                    phase, a_ts, run_last, run_len = 0, None, None, 0
                    pend, pend_run_last, pend_run_len = None, None, 0
                    rl_hist, pl_hist, fb_hist = [], [], []
                    if agg_state:
                        acc = {
                            c: [0, 0.0, None, None] for c in arun_cols
                        }
                    # the break row may itself open the next match
                    if fa:
                        phase, a_ts, ap_pay = 1, cur_ts, cur_pay
                    continue
                if phase == 1:
                    if fb:
                        phase, run_last, run_len = 2, cur_ts, 1
                        rl_hist = [cur_pay]
                        fb_hist = [cur_pay]
                        if agg_state:
                            acc = {
                                c: [0, 0.0, None, None]
                                for c in arun_cols
                            }
                            for c in arun_cols:
                                _acc_add(c, _scalar(arun_vals[c][r]))
                    elif fa:
                        a_ts, ap_pay = cur_ts, cur_pay
                    else:
                        phase, a_ts = 0, None
                    continue
                if fa:
                    phase, a_ts, ap_pay = 1, cur_ts, cur_pay
        st = [phase, a_ts, run_last, run_len, pend, pend_run_last,
              pend_run_len]
        if npay:

            def _flat_hist(hist):
                pad = [none_pay] * (K + 1 - len(hist))
                flat: list = []
                for tup in list(hist) + pad:
                    flat += list(tup)
                return flat

            st += (
                list(ap_pay) + _flat_hist(rl_hist) + _flat_hist(pl_hist)
                + _flat_hist(fb_hist) + list(pe_pay)
            )
        if agg_state:
            for c in arun_cols:
                st += list(acc[c]) + list(pacc[c])
        if max_prev:
            st += _prev_flat(vhist, need_cols, max_prev)
        state.update(tuple(st))
        if within_seconds is not None:
            keep = [
                (e - a).total_seconds() <= within_seconds
                for a, e in zip(a_out, end_out)
            ]
            a_out, len_out, last_out, end_out, pays, agg_outs = (
                [x for x, k in zip(xs, keep) if k]
                for xs in (a_out, len_out, last_out, end_out, pays, agg_outs)
            )
        if a_out:
            data = {
                key_col: [key[0]] * len(a_out),
                "a_ts": a_out,
                "run_len": len_out,
                "run_last_ts": last_out,
                "end_ts": end_out,
            }
            for ((base, off), c), (role, _c2) in zip(roles, pay_pairs):
                ci = pcols.index(c)

                def val(p, base=base, off=off, ci=ci):
                    start_pay, last_hist, end_pay, first_hist, mlen = p
                    if base == "start":
                        return start_pay[ci] if off == 0 else None
                    if base == "end":
                        return end_pay[ci] if off == 0 else None
                    if mlen <= off:
                        return None  # offset past the mapped run rows
                    if base == "first":
                        return first_hist[off][ci]
                    return last_hist[-1 - off][ci]

                data[f"{role}_{c}"] = [val(p) for p in pays]
            for j, (_, _, _, alias, _) in enumerate(aggs):
                data[alias] = pd.Series(
                    [row[j] for row in agg_outs], dtype=object
                )
            yield pd.DataFrame(data)

    return stream_df.groupBy(key_col).applyInPandasWithState(
        update,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def topn_stream(
    stream_df: DataFrame,
    keys: list[str],
    order_cols: list[str],
    descending: bool,
    n: int,
) -> DataFrame:
    """Continuous (non-windowed) Top-N — Flink's Top-N operator: per
    key, keep the N best rows seen so far in keyed state and emit the
    key's CURRENT top-N (with ranks) whenever it changes — update
    changelog semantics; a downstream upsert sink keyed by
    (keys, rn) holds exactly the live top-N. State is O(keys x N x
    row width), the identical bound Flink documents for its
    AppendFastStrategy. NULL order values sort as the SMALLEST value in
    both directions — Spark's default null ordering (ASC NULLS FIRST,
    DESC NULLS LAST), so the ranking matches the batch ROW_NUMBER plan
    this operator replaces. Ranks tie-break by the full row tuple for
    determinism when the row is totally comparable (falling back to
    arrival order if some non-order column type is not); the ranking
    matches a batch ROW_NUMBER exactly only when the order columns are
    key-unique, as any Top-N contract requires.
    Emits every source column + ``rn``."""
    src_cols = stream_df.columns
    field_types = {
        f.name: f.dataType.simpleString() for f in stream_df.schema
    }
    out_schema = ", ".join(
        [f"{c} {field_types[c]}" for c in src_cols] + ["rn int"]
    )
    state_schema = ", ".join(
        f"r{i}_{c} {field_types[c]}"
        for i in range(n)
        for c in src_cols
    )
    width = len(src_cols)
    oidx = [src_cols.index(c) for c in order_cols]
    # a NULL anywhere in an integral column makes pandas deliver the
    # whole column as float64 — coerce survivors back to int, or the
    # int-typed state field silently drops them on the next restore
    _ints = [
        field_types[c] in ("tinyint", "smallint", "int", "bigint")
        for c in src_cols
    ]

    def _typed(r) -> tuple:
        return tuple(
            int(s) if (isint and s is not None) else s
            for s, isint in zip((_scalar(v) for v in r), _ints)
        )

    def null_safe(vals):
        # NULL = smallest in both directions (Spark default: ASC NULLS
        # FIRST, DESC NULLS LAST — both mean "null is the smallest
        # value"); flags compare before values, so mixed (0, None-slot)
        # vs (1, typed-value) never compares across types
        return tuple((v is not None, 0 if v is None else v) for v in vals)

    def sort_key(row: tuple):
        # order columns first, then the full row as deterministic
        # tie-break
        return null_safe([row[i] for i in oidx] + list(row))

    def sort_key_orders_only(row: tuple):
        return null_safe(row[i] for i in oidx)

    def update(
        key: tuple,
        batches: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        top: list[tuple] = []
        if state.exists:
            vals = state.get
            for i in range(n):
                row = tuple(vals[width * i : width * (i + 1)])
                if any(v is not None for v in row):
                    top.append(row)
        before = list(top)
        for pdf in batches:
            for r in pdf[src_cols].itertuples(index=False):
                top.append(_typed(r))
        try:
            top.sort(key=sort_key, reverse=descending)
        except TypeError:
            # a non-order tie-break column is not totally comparable
            # (e.g. arrays with nested nulls): rank by the order
            # columns alone, ties staying in arrival order (stable sort)
            top.sort(key=sort_key_orders_only, reverse=descending)
        top = top[:n]
        flat: list = []
        for row in top:
            flat += list(row)
        flat += [None] * (width * n - len(flat))
        state.update(tuple(flat))
        if top != before:
            data = {
                c: pd.Series(
                    [row[ci] for row in top], dtype=object
                )
                for ci, c in enumerate(src_cols)
            }
            data["rn"] = list(range(1, len(top) + 1))
            yield pd.DataFrame(data)

    return stream_df.groupBy(*keys).applyInPandasWithState(
        update,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


# --- PREV-navigation support for the flag matchers -------------------------
#
# Physical PREV(col, n) comparisons cannot be materialized by a separate
# stateful lag pre-pass (Spark rejects two chained applyInPandasWithState
# operators in one streaming query), so the flag matchers evaluate them
# INSIDE their keyed state: a ``prev_spec`` carries, per flag column, the
# comparison conjuncts referencing preceding partition rows, and the
# matcher keeps the needed columns of the last max(n) rows alongside its
# match state. Semantics mirror the batch lowering's lag helper columns:
# a reference before the partition head is NULL and any comparison with
# it is FALSE.
#
# prev_spec = (checks_per_flag, need_cols, max_prev, col_types) where
# checks_per_flag[i] is a list of (lhs, op, rhs) and each operand is
# ("col", name) | ("prev", name, n) | ("lit", value).


def _prev_schema_suffix(need_cols, max_prev, col_types):
    """State fields appended after a matcher's own: a valid-row count
    (a real history row may be all-NULL, so presence can't be inferred
    from values) then max_prev rows x need_cols, oldest first."""
    return ", ".join(
        ["__ph_n int"]
        + [
            f"__ph{i}_{c} {col_types[c]}"
            for i in range(max_prev)
            for c in need_cols
        ]
    )


def _prev_load(vals, offset, need_cols, max_prev):
    """Rebuild the value history (list of col->value dicts, oldest
    first) from the state tuple starting at ``offset``."""
    ncols = len(need_cols)
    hn = vals[offset] or 0
    hist = []
    for i in range(max_prev - hn, max_prev):
        row = vals[offset + 1 + i * ncols : offset + 1 + (i + 1) * ncols]
        hist.append(dict(zip(need_cols, row)))
    return hist


def _prev_flat(hist, need_cols, max_prev):
    """Flatten the history back to the state-tuple suffix."""
    flat: list = [len(hist)]
    pad = max_prev - len(hist)
    flat += [None] * (pad * len(need_cols))
    for row in hist:
        flat += [row[c] for c in need_cols]
    return flat


def _prev_ok(checks, cur, hist):
    """Evaluate a flag's PREV conjuncts: cur = current row's needed
    values, hist = preceding rows (oldest first). NULL operands (or a
    reference before the partition head) make the comparison false —
    the batch NULL-comparison semantics."""

    def operand(spec):
        kind = spec[0]
        if kind == "lit":
            return spec[1]
        if kind == "col":
            return cur[spec[1]]
        n = spec[2]
        if len(hist) < n:
            return None
        return hist[-n][spec[1]]

    for lhs, op, rhs in checks:
        a, b = operand(lhs), operand(rhs)
        if a is None or b is None:
            return False
        try:
            if not _CMP_OPS[op](a, b):
                return False
        except TypeError:
            return False
    return True
