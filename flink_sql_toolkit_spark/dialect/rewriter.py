"""Flink-SQL → Spark-SQL textual rewriter.

Handles the dialect constructs Spark SQL does not share (SURVEY.md
§2.6, §2.10, §4.1), as SQL-to-SQL preprocessing before ``spark.sql``:

- window TVFs ``TABLE(TUMBLE|HOP|SESSION|CUMULATE(...))`` →
  ``window()`` / ``session_window()`` / explode-based cumulate
  subqueries (test/syntax-test.fsql:199-239)
- legacy group windows ``GROUP BY TUMBLE(ts, i)`` +
  ``TUMBLE_START/END`` auxiliaries (tmLanguage.json:395)
- ``ARRAY[...]`` / ``MAP[...]`` constructors → ``array()`` / ``map()``
- 1-based subscripts ``arr[i]`` → ``element_at(arr, i)`` (Flink
  collections are 1-based; Spark SQL ``[]`` is 0-based but
  ``element_at`` is 1-based — syntax-test.fsql:452)
- ``SIMILAR TO`` → anchored ``RLIKE`` (syntax-test.fsql:618)
- Flink-only type names (``TIMESTAMP(3)``, ``TIMESTAMP_LTZ``,
  ``BYTES``, ``MULTISET<T>``) → Spark types
- ``FETCH FIRST n ROWS ONLY`` → ``LIMIT n``

String literals / quoted identifiers / comments are masked during
rewriting so patterns never fire inside them. Function-name shims
(SPLIT_INDEX, DAYNAME, …) are *not* textual — they are registered as
SQL UDFs per session (functions/shims.py) so they behave like real
functions (arbitrary nesting, aliasing).
"""

from __future__ import annotations

import re

_MASK = "\x00{}\x00"


def _mask(sql: str) -> tuple[str, list[str]]:
    """Replace literals/quoted identifiers/comments with placeholders."""
    out: list[str] = []
    lits: list[str] = []
    i, n = 0, len(sql)
    while i < n:
        ch = sql[i]
        nxt = sql[i + 1] if i + 1 < n else ""
        if ch == "-" and nxt == "-":
            j = sql.find("\n", i)
            j = n if j < 0 else j
            lits.append(sql[i:j])
            out.append(_MASK.format(len(lits) - 1))
            i = j
        elif ch == "/" and nxt == "*":
            j = sql.find("*/", i + 2)
            j = n - 2 if j < 0 else j
            lits.append(sql[i : j + 2])
            out.append(_MASK.format(len(lits) - 1))
            i = j + 2
        elif ch in ("'", '"', "`"):
            j = i + 1
            while j < n:
                if sql[j] == ch:
                    if ch == "'" and j + 1 < n and sql[j + 1] == "'":
                        j += 2
                        continue
                    break
                j += 1
            lits.append(sql[i : j + 1])
            out.append(_MASK.format(len(lits) - 1))
            i = j + 1
        else:
            out.append(ch)
            i += 1
    return "".join(out), lits


def _unmask(sql: str, lits: list[str]) -> str:
    def repl(m: re.Match) -> str:
        return lits[int(m.group(1))]

    return re.sub("\x00(\\d+)\x00", repl, sql)


_UNIT_MAP = {
    "MILLISECOND": "millisecond",
    "MILLISECONDS": "millisecond",
    "SECOND": "second",
    "SECONDS": "second",
    "MINUTE": "minute",
    "MINUTES": "minute",
    "HOUR": "hour",
    "HOURS": "hour",
    "DAY": "day",
    "DAYS": "day",
}


def _interval_to_duration(masked: str, lits: list[str]) -> str | None:
    """``INTERVAL '<n>' UNIT`` (masked) → Spark duration string "'n unit'"."""
    m = re.match(r"(?is)^\s*INTERVAL\s+\x00(\d+)\x00\s+(\w+)\s*$", masked)
    if not m:
        return None
    value = lits[int(m.group(1))].strip("'")
    unit = _UNIT_MAP.get(m.group(2).upper())
    if unit is None:
        return None
    return f"'{value} {unit}'"


def _interval_seconds(masked: str, lits: list[str]) -> int | None:
    m = re.match(r"(?is)^\s*INTERVAL\s+\x00(\d+)\x00\s+(\w+)\s*$", masked)
    if not m:
        return None
    value = float(lits[int(m.group(1))].strip("'"))
    unit = _UNIT_MAP.get(m.group(2).upper())
    factor = {"millisecond": 0.001, "second": 1, "minute": 60, "hour": 3600, "day": 86400}
    if unit is None:
        return None
    return int(value * factor[unit])


def _split_args(arglist: str) -> list[str]:
    """Split an argument list on top-level commas. Tracks square
    brackets as well as parentheses: ``ARRAY[1, 2]`` / ``MAP['k', v]``
    constructor literals must not split at their inner commas (review
    r11 — UPDATE t SET a = ARRAY[1, 2] split mid-literal)."""
    parts, depth, start = [], 0, 0
    for i, ch in enumerate(arglist):
        if ch in "([":
            depth += 1
        elif ch in ")]":
            depth -= 1
        elif ch == "," and depth == 0:
            parts.append(arglist[start:i].strip())
            start = i + 1
    parts.append(arglist[start:].strip())
    return parts


_TVF_RE = re.compile(
    r"(?is)TABLE\s*\(\s*(TUMBLE|HOP|SESSION|CUMULATE)\s*\((.*)", re.DOTALL
)


def _find_tvf(masked: str):
    """Locate the next TABLE(<tvf>(...)) call; return (start, end, name, args)."""
    m = _TVF_RE.search(masked)
    if not m:
        return None
    name = m.group(1).upper()
    args_start = m.end(2) - len(m.group(2))
    depth = 1
    i = args_start
    while i < len(masked) and depth:
        if masked[i] == "(":
            depth += 1
        elif masked[i] == ")":
            depth -= 1
        i += 1
    inner_end = i - 1  # position of the TVF's closing paren
    # consume the outer TABLE( ... ) closing paren
    j = inner_end + 1
    while j < len(masked) and masked[j].isspace():
        j += 1
    outer_end = j + 1 if j < len(masked) and masked[j] == ")" else inner_end + 1
    return m.start(), outer_end, name, masked[args_start:inner_end]


def _fold_session_agg(
    masked: str,
    start: int,
    end: int,
    table: str,
    pkeys: list[str],
    col: str,
    gap_arg: str,
    lits: list[str],
) -> str | None:
    """Fold ``SELECT … FROM TABLE(SESSION(TABLE t [PARTITION BY k],
    DESCRIPTOR(ts), gap)) [WHERE …] GROUP BY …, window_start[,
    window_end] …`` into Spark's grouped ``session_window`` form —
    the only construct where Spark MERGES sessions, and one that is
    valid on both batch and streaming inputs (Flink likewise requires
    a window aggregation after a streaming session TVF).

    Returns None when the statement is not this shape, or when the
    GROUP BY keys differ from the TVF's PARTITION BY keys (Spark
    merges per grouping key; Flink merges per PARTITION BY key — the
    fold is only sound when they coincide). The caller then uses the
    row-preserving gaps-and-islands assignment instead.
    """
    head, tail = masked[:start], masked[end:]
    hm = re.match(r"(?is)^\s*SELECT\s+(?P<sel>.+?)\s+FROM\s*$", head)
    if hm and re.search(
        r"(?i)\b(FROM|UNION|INTERSECT|EXCEPT|JOIN)\b", hm.group("sel")
    ):
        # compound statement (set op / another relation before this
        # TVF): the captured "select list" spans other queries — only
        # the simple single-SELECT shape folds
        hm = None
    tm = re.match(
        r"(?is)^\s*(?:(?:AS\s+)?(?!WHERE\b|GROUP\b)(?P<alias>\w+)\s+)?"
        r"(?P<where>WHERE\s+.+?\s+)?GROUP\s+BY\s+(?P<keys>.+?)"
        r"(?P<rest>\s+(?:HAVING|ORDER\s+BY|LIMIT)\b.*)?\s*$",
        tail,
    )
    if not hm or not tm:
        return None
    if tm.group("where") and re.search(
        r"(?i)\bwindow_(start|end|time)\b", tm.group("where")
    ):
        return None  # WHERE on window bounds: not expressible pre-aggregation
    rest = tm.group("rest") or ""
    if re.search(r"(?i)\bHAVING\b", rest) and re.search(
        r"(?i)\bwindow_(start|end|time)\b", rest
    ):
        return None
    keys = [k.strip() for k in _split_args(tm.group("keys"))]
    # window_time is functionally determined by the window — Flink
    # allows it as a grouping key alongside the bounds; dropping it
    # from the folded GROUP BY changes nothing (r10)
    window_keys = [
        k for k in keys if re.fullmatch(r"(?i)`?window_(start|end|time)`?", k)
    ]
    others = [k for k in keys if k not in window_keys]
    if not window_keys:
        return None  # not the window-agg shape
    norm = lambda xs: {x.strip("`").lower() for x in xs}  # noqa: E731
    if norm(others) != norm(pkeys):
        return None  # grouping keys ≠ session partition keys: unsound fold
    gap = _interval_to_duration(gap_arg, lits)
    if gap is None:
        return None  # unparsable gap: the caller raises the typed error
    swfn = f"session_window({col}, {gap})"
    items = []
    out_aliases: set[str] = set()
    for it in (i.strip() for i in _split_args(hm.group("sel"))):
        im = re.fullmatch(
            r"(?is)`?window_(start|end|time)`?(?:\s+AS\s+([\w`]+))?", it
        )
        if im:
            bound = im.group(1).lower()
            alias = (im.group(2) or f"window_{bound}").strip("`")
            expr = (
                # FLIP-145: window_time = window_end - 1ms, the
                # window's event-time attribute (r10 — folded form,
                # valid batch AND streaming)
                f"{swfn}.end - INTERVAL '1' MILLISECOND"
                if bound == "time"
                else f"{swfn}.{bound}"
            )
            items.append(f"{expr} AS {alias}")
            out_aliases.add(alias.lower())
        elif re.search(r"(?i)\bwindow_(start|end|time)\b", it):
            return None  # window bound inside a wider expression
        else:
            items.append(it)
    # an ORDER BY on a window bound resolves only through an output
    # alias once the fold removes the bound columns (review r9)
    for bound in re.findall(r"(?i)\bwindow_(?:start|end|time)\b", rest):
        if bound.lower() not in out_aliases:
            return None
    where = tm.group("where") or ""
    # keep the relation alias: the query may qualify columns with it
    # (review r9: FROM t with a dangling s.v reference)
    rel = f"{table} AS {tm.group('alias')} " if tm.group("alias") else f"{table} "
    # keyless (global) sessions: Spark's streaming planner rejects a
    # session_window aggregation with no other grouping key ("Global
    # aggregation with session window in streaming query is not
    # supported", AggUtils.planStreamingAggregationForSession), while
    # Flink supports global session windows. A non-foldable constant
    # key — pmod(hash(ts), 1) ≡ 0 on every row, but opaque to constant
    # folding — turns it into a single-key aggregation with identical
    # groups. Global sessions are inherently single-key state anyway;
    # batch results are unchanged (r13).
    keys_out = [*others] if others else [f"pmod(hash({col}), 1)"]
    group_by = ", ".join([*keys_out, swfn])
    return (
        f"SELECT {', '.join(items)} FROM {rel}{where}GROUP BY {group_by}{rest}"
    )


def _rewrite_tvfs(masked: str, lits: list[str], group_struct: bool = False) -> str:
    kept_struct = False
    while True:
        found = _find_tvf(masked)
        if found is None:
            if kept_struct:
                masked = _append_struct_to_group_by(masked)
            return masked
        start, end, name, argstr = found
        args = _split_args(argstr)
        helpers = {"TUMBLE": "_w", "HOP": "_w", "SESSION": "_new, _sess", "CUMULATE": "_ws, _k"}[name]
        # a multi-key PARTITION BY inside the first argument contains
        # top-level commas (TABLE t PARTITION BY a, b, DESCRIPTOR…) —
        # re-align on the DESCRIPTOR argument so every key stays in
        # the table clause (review r9: key #2 was parsed as the time
        # column, computing sessions over a data column)
        di = next(
            (i for i, a in enumerate(args) if re.match(r"(?is)^\s*DESCRIPTOR\s*\(", a)),
            1,
        )
        if di > 1:
            args = [", ".join(args[:di]), *args[di:]]
        min_args = {"TUMBLE": 3, "SESSION": 3, "HOP": 4, "CUMULATE": 4}[name]
        if len(args) < min_args:
            raise ValueError(
                f"{name} window TVF takes at least {min_args} arguments "
                f"(TABLE t, DESCRIPTOR(ts), intervals…); got {len(args)}"
            )
        tm = re.match(r"(?is)^\s*TABLE\s+([\w.\x00]+)\s*$", args[0])
        table = tm.group(1) if tm else args[0]
        dm = re.match(r"(?is)^\s*DESCRIPTOR\s*\(\s*([\w.\x00]+)\s*\)\s*$", args[1])
        col = dm.group(1) if dm else args[1]
        if name == "TUMBLE":
            size = _interval_to_duration(args[2], lits)
            sub = (
                f"(SELECT *, _w.start AS window_start, _w.end AS window_end FROM "
                f"(SELECT *, window({col}, {size}) AS _w FROM {table}) ) "
            )
        elif name == "HOP":
            slide = _interval_to_duration(args[2], lits)
            size = _interval_to_duration(args[3], lits)
            # Spark's TimeWindowing rule expands sliding windows into
            # size/slide rows per input itself — no explode needed
            sub = (
                f"(SELECT *, _w.start AS window_start, _w.end AS window_end FROM "
                f"(SELECT *, window({col}, {size}, {slide}) AS _w FROM {table}) ) "
            )
        elif name == "SESSION":
            # SESSION merges windows — a projected session_window()
            # does NOT merge in Spark (merging happens only as a
            # grouping expression), so the projection form silently
            # computed per-event [ts, ts+gap) windows (caught by the
            # streaming SESSION E2E test, late r9). Two correct routes:
            # the window-agg statement shape folds into a grouped
            # session_window (valid batch AND streaming); anything else
            # gets a row-preserving gaps-and-islands assignment (batch;
            # streaming then surfaces Spark's window-function error,
            # matching Flink's own rule that a streaming session TVF
            # must be followed by a window aggregation).
            pm = re.match(
                r"(?is)^\s*TABLE\s+([\w.\x00]+)\s*(?:PARTITION\s+BY\s+(.+))?$",
                args[0],
            )
            table = pm.group(1) if pm else table
            pkeys = (
                [k.strip().strip("`") for k in pm.group(2).split(",")]
                if pm and pm.group(2)
                else []
            )
            folded = _fold_session_agg(masked, start, end, table, pkeys, col, args[-1], lits)
            if folded is not None:
                masked = folded
                continue
            gap_dur = _interval_to_duration(args[-1], lits)
            if gap_dur is None:
                raise ValueError("SESSION requires a constant INTERVAL gap")
            # Spark's multi-unit interval string keeps sub-second gaps
            # exact (review r9: an integer-seconds conversion truncated
            # INTERVAL '500' MILLISECOND to 0 — every row its own
            # session); gap_dur is already quoted, e.g. '10 minute'
            gap_sql = f"INTERVAL {gap_dur}"
            pb = f"PARTITION BY {', '.join(pkeys)} " if pkeys else ""
            lag = f"LAG({col}) OVER ({pb}ORDER BY {col})"
            sess_keys = ", ".join([*pkeys, "_sess"])
            sub = (
                f"(SELECT *, MIN({col}) OVER (PARTITION BY {sess_keys}) AS window_start, "
                f"MAX({col}) OVER (PARTITION BY {sess_keys}) + {gap_sql} AS window_end FROM "
                f"(SELECT *, SUM(_new) OVER ({pb}ORDER BY {col} "
                f"ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS _sess FROM "
                f"(SELECT *, CASE WHEN {lag} IS NULL OR "
                f"{col} >= {lag} + {gap_sql} THEN 1 ELSE 0 END AS _new "
                f"FROM {table}))) "
            )
        else:  # CUMULATE
            step = _interval_seconds(args[2], lits)
            max_s = _interval_seconds(args[3], lits)
            if step is None or max_s is None or max_s % step != 0:
                raise ValueError("CUMULATE requires integer step/max with max % step == 0")
            nk = max_s // step
            if group_struct:
                # Append-sink form (r13): CUMULATE(step, max) is a
                # HOP(slide=step, size=max) restricted to assignments
                # whose max-aligned window contains the hop start —
                # hop window [a, a+max) filtered to events t with
                # floor(t/max)*max >= a holds exactly the events of
                # the cumulate window [ceil(a/max)*max, a+max).
                # Grouping keeps the hop window() STRUCT, which
                # Spark's append-mode checker recognizes as a
                # watermark-closed windowed aggregation — the explode
                # rewrite's arithmetic _ws/_k columns are not
                # window-typed and stay update-mode-only.
                size_d = _interval_to_duration(args[3], lits)
                slide_d = _interval_to_duration(args[2], lits)
                sub = (
                    f"(SELECT *, timestamp_seconds(CAST(ceil(unix_timestamp(_w.start) / {max_s}) AS LONG) * {max_s}) AS window_start, "
                    f"_w.end AS window_end FROM "
                    f"(SELECT *, window({col}, {size_d}, {slide_d}) AS _w FROM {table}) "
                    f"WHERE CAST(floor(unix_timestamp({col}) / {max_s}) AS LONG) * {max_s} >= unix_timestamp(_w.start)) "
                )
            else:
                sub = (
                    f"(SELECT *, timestamp_seconds(_ws) AS window_start, "
                    f"timestamp_seconds(_ws + _k * {step}) AS window_end FROM "
                    f"(SELECT *, CAST(floor(unix_timestamp({col}) / {max_s}) * {max_s} AS LONG) AS _ws FROM {table}) "
                    f"LATERAL VIEW explode(sequence(CAST(floor((unix_timestamp({col}) - _ws) / {step}) + 1 AS INT), {nk})) AS _k ) "
                )
        # Flink's window TVF relation = input columns + window_start /
        # window_end / window_time, and ONLY those: project the helper
        # columns away (ADVICE r9: SELECT * leaked _new/_sess) and add
        # window_time = window_end - 1ms (the window's event-time
        # attribute per FLIP-145). Catalyst collapses the extra
        # projection — no runtime cost.
        #
        # group_struct (r12): Spark's append-mode streaming checker
        # only recognizes a windowed aggregation when the GROUPING
        # expressions contain the window() STRUCT itself — grouping by
        # the extracted window_start column is update-mode-only. For a
        # streaming INSERT into an append sink the engine retries the
        # rewrite with group_struct=True: TUMBLE/HOP keep `_w` in the
        # relation and `, _w` is appended to the enclosing GROUP BY
        # (window_start/_end are functionally determined by _w, so
        # groups — and results — are identical). CUMULATE joins them
        # in r13 via the filtered-HOP form above (its `_w` is a real
        # TimeWindow struct). SESSION folds into a grouped
        # session_window elsewhere, which is already append-legal.
        if group_struct and name in ("TUMBLE", "HOP", "CUMULATE"):
            kept_struct = True
            sub = (
                f"(SELECT *, "
                f"window_end - INTERVAL '1' MILLISECOND AS window_time FROM {sub}) "
            )
        else:
            sub = (
                f"(SELECT * EXCEPT({helpers}), "
                f"window_end - INTERVAL '1' MILLISECOND AS window_time FROM {sub}) "
            )
        masked = masked[:start] + sub + masked[end:]


def _append_struct_to_group_by(masked: str) -> str:
    """Append ``, _w`` to the first GROUP BY list that references a
    window TVF output column at top level (group_struct retry path).
    Appending (not prepending) keeps GROUP BY ordinals valid."""
    m = re.search(r"(?is)\bGROUP\s+BY\b", masked)
    if m is None:
        return masked
    i, depth, end = m.end(), 0, len(masked)
    terminator = re.compile(
        r"(?is)^(HAVING|ORDER\s+BY|LIMIT|WINDOW|UNION|EXCEPT|INTERSECT)\b"
    )
    while i < end:
        c = masked[i]
        if c == "(":
            depth += 1
        elif c == ")":
            if depth == 0:
                break  # closing an enclosing subquery
            depth -= 1
        elif c == ";" and depth == 0:
            break
        elif (
            depth == 0
            and c.isalpha()
            and (i == 0 or not (masked[i - 1].isalnum() or masked[i - 1] == "_"))
            and terminator.match(masked[i:])
        ):
            break
        i += 1
    grouping = masked[m.end():i]
    # window_* by name, or a bare ordinal that RESOLVES to a
    # window_start/_end/_time select item. A bare ordinal alone is
    # not evidence of window grouping (ADVICE r12): for
    # `GROUP BY substr(k,1,3), 2` or `GROUP BY 1` over a non-window
    # item, appending `, _w` would RESOLVE (the struct is in scope)
    # and silently turn an update-mode aggregation Flink rejects
    # into a per-window aggregation with different results — so
    # ordinals are checked against the SELECT list.
    if re.search(r"(?i)\bwindow_(start|end|time)\b", grouping):
        return masked[:i].rstrip() + ", _w " + masked[i:]
    items = _select_items_before(masked, m.start())
    for om in re.finditer(r"(?<![\w.])(\d+)(?![\w.])", grouping):
        n = int(om.group(1))
        if 1 <= n <= len(items) and re.search(
            r"(?i)\bwindow_(start|end|time)\b", items[n - 1]
        ):
            return masked[:i].rstrip() + ", _w " + masked[i:]
    return masked


def _select_items_before(masked: str, pos: int) -> list[str]:
    """The SELECT list of the query block whose GROUP BY starts at
    ``pos``: the last top-level ``SELECT`` before ``pos`` up to its
    matching top-level ``FROM`` (used to resolve GROUP BY ordinals
    in the group_struct retry)."""
    best = None
    for sm in re.finditer(r"(?is)\bSELECT\b", masked[:pos]):
        # same paren depth as the GROUP BY ⇒ same query block
        if masked.count("(", sm.end(), pos) == masked.count(")", sm.end(), pos):
            best = sm
    if best is None:
        return []
    seg = masked[best.end():pos]
    fm = None
    depth = 0
    for j, ch in enumerate(seg):
        if ch == "(":
            depth += 1
        elif ch == ")":
            depth -= 1
        elif depth == 0 and seg[j : j + 4].upper() == "FROM" and (
            j == 0 or not (seg[j - 1].isalnum() or seg[j - 1] == "_")
        ) and not (len(seg) > j + 4 and (seg[j + 4].isalnum() or seg[j + 4] == "_")):
            fm = j
            break
    if fm is None:
        return []
    sel = re.sub(r"(?is)^\s*(ALL|DISTINCT)\b", "", seg[:fm])
    return _split_args(sel)


def _rewrite_legacy_group_windows(masked: str, lits: list[str]) -> str:
    """``GROUP BY TUMBLE(ts, i)`` + TUMBLE_START/END/ROWTIME/PROCTIME
    → window(). ROWTIME is the window's event-time attribute =
    ``end - 1ms`` (the last instant inside the window); PROCTIME is
    approximated by the same instant (SURVEY §7's documented
    processing-time approximation)."""

    def aux(m: re.Match) -> str:
        fn, field = m.group(1).upper(), m.group(2).upper()
        args = _split_args(m.group(3))
        if len(args) < (3 if fn == "HOP" else 2):
            return m.group(0)  # malformed arity: leave for Spark's error
        col = args[0]
        if fn == "HOP":
            slide = _interval_to_duration(args[1], lits)
            size = _interval_to_duration(args[2], lits)
            w = f"window({col}, {size}, {slide})"
        else:
            size = _interval_to_duration(args[1], lits)
            fname = "session_window" if fn == "SESSION" else "window"
            w = f"{fname}({col}, {size})"
        if field == "START":
            return f"{w}.start"
        if field == "END":
            return f"{w}.end"
        # parenthesized: the splice may be an operand of -, /, …
        return f"({w}.end - INTERVAL '0.001' SECOND)"

    masked = re.sub(
        r"(?is)\b(TUMBLE|HOP|SESSION)_(START|END|ROWTIME|PROCTIME)\s*\(([^()]*)\)",
        aux,
        masked,
    )

    def grp(m: re.Match) -> str:
        fn = m.group(1).upper()
        args = _split_args(m.group(2))
        if len(args) < (3 if fn == "HOP" else 2):
            return m.group(0)  # malformed arity: leave for Spark's error
        col = args[0]
        if fn == "HOP":
            slide = _interval_to_duration(args[1], lits)
            size = _interval_to_duration(args[2], lits)
            return f"window({col}, {size}, {slide})"
        size = _interval_to_duration(args[1], lits)
        fname = "session_window" if fn == "SESSION" else "window"
        return f"{fname}({col}, {size})"

    return re.sub(
        r"(?is)\b(TUMBLE|HOP|SESSION)\s*\(([^()]*\x00\d+\x00[^()]*)\)", grp, masked
    )


def _rewrite_constructors(masked: str) -> str:
    """ARRAY[...] / MAP[...] → array(...) / map(...)."""

    def swap(m: re.Match) -> str:
        return f"{m.group(1).lower()}({m.group(2)})"

    # no nesting of [] inside the constructor in the corpus
    return re.sub(r"(?is)\b(ARRAY|MAP)\s*\[([^\[\]]*)\]", swap, masked)


def _rewrite_subscripts(masked: str) -> str:
    """``expr[i]`` (1-based in Flink) → ``element_at(expr, i)``.

    element_at is 1-based in Spark for both arrays and maps, so the
    index itself passes through unchanged; map access by key also
    goes through element_at (semantics identical).
    """
    pat = re.compile(r"([\w.]+(?:\([^()]*\))?)\s*\[\s*([^\[\]]+?)\s*\]")
    while True:
        new = pat.sub(lambda m: f"element_at({m.group(1)}, {m.group(2)})", masked)
        if new == masked:
            return new
        masked = new


def _rewrite_similar_to(masked: str, lits: list[str]) -> str:
    """``x SIMILAR TO 'pat'`` → ``x RLIKE '^(?:pat′)$'`` with SQL
    wildcards translated (% → .*, _ → .)."""

    def repl(m: re.Match) -> str:
        neg = m.group(1) or ""
        idx = int(m.group(2))
        pat = lits[idx][1:-1]
        pat = pat.replace("%", ".*").replace("_", ".")
        lits.append(f"'^(?:{pat})$'")
        return f"{'NOT ' if neg else ''}RLIKE \x00{len(lits) - 1}\x00"

    return re.sub(r"(?is)\b(NOT\s+)?SIMILAR\s+TO\s+\x00(\d+)\x00", repl, masked)


_TYPE_REWRITES = [
    (re.compile(r"(?is)\bTIMESTAMP_LTZ\s*(\(\s*\d+\s*\))?"), "TIMESTAMP"),
    (re.compile(r"(?is)\bTIMESTAMP\s*\(\s*\d+\s*\)"), "TIMESTAMP_NTZ"),
    (re.compile(r"(?is)\bBYTES\b"), "BINARY"),
    (re.compile(r"(?is)\bVARBINARY\s*\(\s*\d+\s*\)"), "BINARY"),
    (re.compile(r"(?is)\bMULTISET\s*<([^<>]*)>"), r"MAP<\1, INT>"),
    (re.compile(r"(?is)\bROW\s*<"), "STRUCT<"),
]


def _rewrite_types(masked: str) -> str:
    for pat, rep in _TYPE_REWRITES:
        masked = pat.sub(rep, masked)
    return masked


def _rewrite_temporal_join(masked: str) -> str:
    """``JOIN t FOR SYSTEM_TIME AS OF x [AS a]`` → ``JOIN t [AS a]``.

    Processing-time lookup joins (the corpus's
    test/syntax-test.fsql:158-162 and :507-510 shapes) are exactly
    Spark's stream-static / snapshot joins, so dropping the clause
    preserves semantics; event-time *versioned* temporal joins are
    approximated to the current version (the exact batch as-of is the
    ``operators.asof.asof_join`` API — SURVEY §2.4).
    """
    return re.sub(r"(?is)\bFOR\s+SYSTEM_TIME\s+AS\s+OF\s+[\w.\x00]+", "", masked)


def _rewrite_lateral_unnest(masked: str) -> str:
    """``CROSS JOIN LATERAL UNNEST(x) AS t(c)`` → LATERAL VIEW explode."""
    masked = re.sub(
        r"(?is)\bCROSS\s+JOIN\s+LATERAL\s+UNNEST\s*\(([^()]*)\)\s+AS\s+(\w+)\s*\(\s*(\w+)\s*\)",
        r"LATERAL VIEW explode(\1) \2 AS \3",
        masked,
    )
    # bare UNNEST in FROM-position: LATERAL TABLE(f(x)) handled by TVF;
    # UNNEST(arr) in select stays → explode
    return re.sub(r"(?is)\bUNNEST\s*\(", "explode(", masked)


# a comparison quantified over a subquery: `x = ANY (SELECT …)`
_QUANTIFIED_RE = re.compile(
    r"\s*(<=|>=|<>|!=|=|<|>)\s*\b(ANY|SOME|ALL)\s*"
    r"(?=\(\s*(?:\(\s*)*(?:SELECT|WITH|VALUES)\b)",
    re.I | re.S,
)


def _quantified_to_in(m: re.Match) -> str:
    """Spark SQL has no quantified subquery comparison. `= ANY|SOME`
    IS `IN` and `<> ALL` IS `NOT IN` by the SQL standard's definition,
    NULL semantics included; no other operator/quantifier pair has an
    exact Spark spelling."""
    op, quant = m.group(1), m.group(2).upper()
    if op == "=" and quant in ("ANY", "SOME"):
        return " IN "
    if op in ("<>", "!=") and quant == "ALL":
        return " NOT IN "
    raise NotImplementedError(
        f"quantified comparison '{op} {quant} (subquery)' is not supported; "
        "supported forms: = ANY|SOME (subquery) (as IN), <> ALL (subquery) "
        "(as NOT IN), and LIKE ANY|ALL (pattern list)"
    )


def _rewrite_misc(masked: str) -> str:
    masked = _QUANTIFIED_RE.sub(_quantified_to_in, masked)
    # FROM dual → no FROM clause (Spark allows table-less SELECT)
    masked = re.sub(r"(?is)\bFROM\s+dual\b", "", masked)
    # FETCH FIRST n ROWS ONLY → LIMIT n (syntax-test.fsql / tmLanguage.json:271)
    masked = re.sub(
        r"(?is)\bFETCH\s+(?:FIRST|NEXT)\s+(\d+)\s+ROWS?\s+ONLY", r"LIMIT \1", masked
    )
    # PROCTIME() → current_timestamp() (documented semantic gap, SURVEY §7)
    masked = re.sub(r"(?is)\bPROCTIME\s*\(\s*\)", "current_timestamp()", masked)
    # Flink DAYNAME/MONTHNAME return full names; Spark's builtins
    # abbreviate and cannot be shadowed by SQL UDFs → rewrite
    masked = re.sub(
        r"(?is)\bDAYNAME\s*\(([^()]*)\)", r"date_format(\1, 'EEEE')", masked
    )
    masked = re.sub(
        r"(?is)\bMONTHNAME\s*\(([^()]*)\)", r"date_format(\1, 'MMMM')", masked
    )
    # COLLECT (multiset agg, syntax-test.fsql:269) → collect_list
    masked = re.sub(r"(?is)\bCOLLECT\s*\(", "collect_list(", masked)
    # ELEMENT(arr) — sole element of a 1-element array (:452)
    masked = re.sub(r"(?is)\bELEMENT\s*\(", "element_at_single(", masked)
    masked = re.sub(r"(?is)\belement_at_single\s*\(([^()]*)\)", r"element_at(\1, 1)", masked)
    # ARRAY_CONCAT → concat (Spark's concat is array-polymorphic)
    masked = re.sub(r"(?is)\bARRAY_CONCAT\s*\(", "concat(", masked)
    # MAP_UNION → map_concat; duplicate keys resolve last-wins via
    # the session's mapKeyDedupPolicy (register_function_shims)
    masked = re.sub(r"(?is)\bMAP_UNION\s*\(", "map_concat(", masked)
    # SQL/JSON aggregates (tmLanguage.json JSON battery). collect_list
    # drops NULL elements = JSON_ARRAYAGG's ABSENT ON NULL default; a
    # struct row with a NULL value survives = JSON_OBJECTAGG's
    # NULL ON NULL default. The explicit ON NULL clause is stripped
    # (the non-default spellings approximate to the default).
    # argument patterns tolerate one level of nested calls —
    # UPPER(x), f(a, b) — like the other rewrites here
    _arg = r"(?:[^()]|\([^()]*\))"
    masked = re.sub(
        rf"(?is)\bJSON_ARRAYAGG\s*\(({_arg}*?)(?:\s+(?:NULL|ABSENT)\s+ON\s+NULL)?\s*\)",
        r"to_json(collect_list(\1))",
        masked,
    )
    masked = re.sub(
        rf"(?is)\bJSON_OBJECTAGG\s*\(\s*(?:KEY\s+)?({_arg}+?)\s+VALUE\s+"
        rf"({_arg}+?)(?:\s+(?:NULL|ABSENT)\s+ON\s+NULL)?\s*\)",
        r"to_json(map_from_entries(collect_list(struct(\1, \2))))",
        masked,
    )
    # Flink's numeric TO_TIMESTAMP_LTZ(epoch[, 0|3]) — default
    # precision 3; Spark's builtin of the same name is string-only
    # (and builtins cannot be shadowed by SQL UDFs) → rewrite the
    # literal-precision forms and the bare numeric-literal form
    masked = re.sub(
        rf"(?is)\bTO_TIMESTAMP_LTZ\s*\(({_arg}+?),\s*0\s*\)",
        r"timestamp_seconds(\1)",
        masked,
    )
    masked = re.sub(
        rf"(?is)\bTO_TIMESTAMP_LTZ\s*\(({_arg}+?),\s*3\s*\)",
        r"timestamp_millis(\1)",
        masked,
    )
    masked = re.sub(
        r"(?is)\bTO_TIMESTAMP_LTZ\s*\(\s*(\d+(?:\.\d+)?)\s*\)",
        r"timestamp_millis(\1)",
        masked,
    )
    # one-arg non-literal form: TO_TIMESTAMP_LTZ(epoch_col) — Flink's
    # numeric signature is epoch MILLIS (default precision 3). A masked
    # string literal (\x00 placeholder) keeps Spark's string builtin;
    # anything else (column, expression, arbitrarily nested call) takes
    # the numeric path (review r9: a BIGINT column was silently
    # string-parsed to NULLs; a second review pass found the regex
    # version only tolerated ONE nesting level). Two-arg calls with a
    # non-0/3 precision stay put and surface Spark's typed error.
    masked = _rewrite_one_arg_ltz(masked)
    # LOCALTIMESTAMP keyword → function call (Spark only has the
    # function form; LOCALTIME likewise)
    masked = re.sub(r"(?is)\bLOCALTIMESTAMP\b(?!\s*\()", "localtimestamp()", masked)
    masked = re.sub(r"(?is)\bLOCALTIME\b(?!\s*\()", "current_time()", masked)
    # CURRENT_TIME niladic (Flink) → current_time() — \b can't match
    # inside CURRENT_TIMESTAMP (E→S is no word boundary)
    masked = re.sub(r"(?is)\bCURRENT_TIME\b(?!\s*\()", "current_time()", masked)
    # niladic metadata keywords (tmLanguage.json): Spark only has the
    # function forms; SHOW CURRENT CATALOG reads the same source of
    # truth (spark.catalog.currentCatalog), so the two agree.
    # SYSTEM_USER → current_user (Spark has no OS-user function;
    # SESSION_USER is a Spark niladic already)
    masked = re.sub(
        r"(?is)\bCURRENT_CATALOG\b(?!\s*\()", "current_catalog()", masked
    )
    masked = re.sub(
        r"(?is)\bCURRENT_DATABASE\b(?!\s*\()", "current_database()", masked
    )
    masked = re.sub(r"(?is)\bSYSTEM_USER\b(?!\s*\()", "current_user()", masked)
    # three-valued-logic literal (syntax-test.fsql literals section):
    # `x IS [NOT] UNKNOWN` ≡ IS [NOT] NULL on a boolean; the bare
    # UNKNOWN literal is a NULL boolean
    masked = re.sub(r"(?is)\bIS\s+(NOT\s+)?UNKNOWN\b", r"IS \1NULL", masked)
    masked = re.sub(r"(?is)\bUNKNOWN\b", "CAST(NULL AS BOOLEAN)", masked)
    # hex integer literal 0xFF — Spark lexes it as an identifier;
    # fold to decimal (DuckDB/MySQL integer-context semantics)
    masked = re.sub(
        r"(?i)\b0x([0-9A-F]+)\b",
        lambda m: str(int(m.group(1), 16)),
        masked,
    )
    return masked


def _toplevel_find(masked: str, pattern: str, start: int = 0) -> int:
    """Position of the first regex match at paren-depth 0, or -1."""
    rx = re.compile(pattern, re.IGNORECASE | re.DOTALL)
    depth = 0
    i = start
    while i < len(masked):
        ch = masked[i]
        if ch == "(":
            depth += 1
        elif ch == ")":
            depth -= 1
        elif depth == 0:
            m = rx.match(masked, i)
            if m:
                return i
        i += 1
    return -1


def _matching_paren(masked: str, open_pos: int) -> int:
    depth = 0
    for i in range(open_pos, len(masked)):
        if masked[i] == "(":
            depth += 1
        elif masked[i] == ")":
            depth -= 1
            if depth == 0:
                return i
    return -1


def _split_window_spec(spec: str) -> tuple[str, str, str]:
    """Split a window spec into (partition_by, order_by, frame) raw
    text, keywords excluded; missing parts are ''. Depth-0 scan so
    nested calls in the expressions don't confuse it."""
    p_pos = _toplevel_find(spec, r"\bPARTITION\s+BY\b")
    o_pos = _toplevel_find(spec, r"\bORDER\s+BY\b")
    f_pos = _toplevel_find(spec, r"\b(?:GROUPS|ROWS|RANGE)\b")
    end = len(spec)
    frame = spec[f_pos:end].strip() if f_pos != -1 else ""
    o_end = f_pos if f_pos != -1 else end
    order = (
        re.sub(r"(?is)^\s*ORDER\s+BY\s*", "", spec[o_pos:o_end]).strip()
        if o_pos != -1
        else ""
    )
    p_end = o_pos if o_pos != -1 else o_end
    part = (
        re.sub(r"(?is)^\s*PARTITION\s+BY\s*", "", spec[p_pos:p_end]).strip()
        if p_pos != -1
        else ""
    )
    return part, order, frame


def _rewrite_groups_frames(masked: str) -> str:
    """SQL:2011 GROUPS frames → DENSE_RANK + integer-RANGE rewrite.

    ``GROUPS n PRECEDING/FOLLOWING`` counts peer GROUPS of the ORDER
    BY key, and neither Spark nor DuckDB implements the frame unit
    (syntaxes/flink.tmLanguage.json:399). The identity used (general,
    any integer/UNBOUNDED bounds): number each peer group with
    DENSE_RANK() over the same partition/order, then the same bounds
    as a numeric RANGE frame over that rank select exactly the same
    rows — CURRENT ROW in GROUPS mode includes all peers, and so does
    RANGE over the rank, since peers share a rank value.

    Supported shape: one top-level SELECT block (no top-level set ops
    or GROUP BY — window frames over grouped output would need the
    rank computed post-aggregation). The FROM..WHERE segment is
    wrapped in a derived table that adds one ``__grp_i`` column per
    distinct (partition, order) spec; named WINDOW clauses stay
    outside the wrap and are rewritten in place.
    """
    if not re.search(r"(?is)\bGROUPS\s+(?:BETWEEN\b|UNBOUNDED\b|CURRENT\b|\d)", masked):
        return masked
    if re.search(r"(?is)\bEXCLUDE\s+(?:CURRENT|GROUP|TIES|NO)\b", masked):
        raise NotImplementedError("GROUPS frame with EXCLUDE clause is not supported")

    # collect window specs: OVER ( ... ) and WINDOW name AS ( ... ),
    # tagging each with whether it sits inside a parenthesized
    # subquery ("( SELECT …" — derived table, CTE body, IN/EXISTS) —
    # the __grp_i rank column is only injected at the top-level FROM
    # wrap, so a GROUPS frame nested inside a subquery would reference
    # an unresolved column (opaque AnalysisException); reject it typed
    # instead (ADVICE r5). Expression parens (CAST(… OVER … AS t))
    # are NOT subqueries and stay rewritable.
    subq_spans: list[tuple[int, int]] = []
    for m in re.finditer(r"(?is)\(\s*SELECT\b", masked):
        close = _matching_paren(masked, m.start())
        if close != -1:
            subq_spans.append((m.start(), close))

    def _in_subquery(pos: int) -> bool:
        return any(a < pos < b for a, b in subq_spans)

    spans: list[tuple[int, int, bool]] = []  # paren-content spans + nested?
    for m in re.finditer(r"(?is)\bOVER\s*\(", masked):
        close = _matching_paren(masked, m.end() - 1)
        if close != -1:
            spans.append((m.end(), close, _in_subquery(m.start())))
    for m in re.finditer(r"(?is)\bWINDOW\s+\w+\s+AS\s*\(", masked):
        close = _matching_paren(masked, m.end() - 1)
        if close != -1:
            spans.append((m.end(), close, _in_subquery(m.start())))

    grp_cols: dict[tuple[str, str], str] = {}
    edits: list[tuple[int, int, str]] = []
    for start, end, nested in spans:
        spec = masked[start:end]
        if not re.search(r"(?is)\bGROUPS\b", spec):
            continue
        part, order, frame = _split_window_spec(spec)
        if not re.match(r"(?is)GROUPS\b", frame):
            continue  # GROUPS text belongs to a nested construct
        if nested:
            raise NotImplementedError(
                "GROUPS frame inside a subquery/CTE/derived table is "
                "not supported — hoist the windowed expression to the "
                "top-level SELECT"
            )
        if not order:
            raise NotImplementedError("GROUPS frame requires ORDER BY in the window")
        key = (re.sub(r"\s+", " ", part), re.sub(r"\s+", " ", order))
        col = grp_cols.setdefault(key, f"__grp_{len(grp_cols)}")
        bounds = re.sub(r"(?is)^GROUPS\b", "", frame).strip()
        new_spec = (
            (f"PARTITION BY {part} " if part else "")
            + f"ORDER BY {col} RANGE {bounds}"
        )
        edits.append((start, end, new_spec))
    if not edits:
        return masked
    for start, end, new_spec in sorted(edits, reverse=True):
        masked = masked[:start] + new_spec + masked[end:]

    sel_pos = _toplevel_find(masked, r"\bSELECT\b")
    from_pos = _toplevel_find(masked, r"\bFROM\b", sel_pos + 1 if sel_pos != -1 else 0)
    if sel_pos == -1 or from_pos == -1:
        raise NotImplementedError(
            "GROUPS frame is supported in a single top-level SELECT ... FROM block"
        )
    if _toplevel_find(masked, r"\b(?:GROUP\s+BY|UNION|INTERSECT|EXCEPT)\b") != -1:
        raise NotImplementedError(
            "GROUPS frame with top-level GROUP BY / set operations is not supported — "
            "wrap the aggregation in a subquery"
        )
    # the wrapped segment: FROM ... up to the first top-level
    # WINDOW / ORDER BY / LIMIT (those stay outside, over the derived
    # table, which exposes * plus the __grp_i columns)
    tail_pos = _toplevel_find(
        masked, r"\b(?:WINDOW\b|ORDER\s+BY\b|LIMIT\b|FETCH\b)", from_pos + 4
    )
    seg_end = tail_pos if tail_pos != -1 else len(masked)
    source = masked[from_pos + 4 : seg_end].strip()
    rank_cols = ", ".join(
        f"DENSE_RANK() OVER ({('PARTITION BY ' + p + ' ') if p else ''}ORDER BY {o}) AS {c}"
        for (p, o), c in grp_cols.items()
    )
    wrapped = f" FROM (SELECT *, {rank_cols} FROM {source}) __groups_frames "
    return masked[:from_pos] + wrapped + masked[seg_end:]


# Flink-only hints: accepted + dropped (conf analogues are applied at
# the SET layer where they exist — SURVEY §2.13); join-strategy hints
# map to Spark's names.
_DROP_HINTS = {
    "OPTIONS",
    "LOOKUP",
    "STATE_TTL",
    "MINI_BATCH",
    "SPLIT_DISTINCT_AGG",
    "AGG_STRATEGY",
    "ASYNC_LOOKUP",
    "RETRY_STRATEGY",
}
_HINT_NAME_MAP = {"SHUFFLE_MERGE": "MERGE", "NEST_LOOP": "SHUFFLE_REPLICATE_NL"}


def _rewrite_hints(lits: list[str]) -> None:
    """Translate /*+ ... */ hint comments in the masked-literal pool."""
    hint_item = re.compile(r"(?is)(\w+)\s*(\([^()]*\))?")
    for i, lit in enumerate(lits):
        if not lit.startswith("/*+"):
            continue
        body = lit[3:-2]
        kept = []
        for m in hint_item.finditer(body):
            name = m.group(1).upper()
            if name in _DROP_HINTS:
                continue
            kept.append(_HINT_NAME_MAP.get(name, m.group(1)) + (m.group(2) or ""))
        lits[i] = f"/*+ {', '.join(kept)} */" if kept else ""


_LTZ_CALL_RE = re.compile(r"(?i)\bTO_TIMESTAMP_LTZ\s*\(")


def _rewrite_one_arg_ltz(masked: str) -> str:
    """Depth-aware rewrite of single-argument ``TO_TIMESTAMP_LTZ(x)``
    (x any expression, any paren nesting) → ``timestamp_millis(
    CAST(x AS BIGINT))``. Masked string literals (\\x00 placeholders)
    and multi-argument calls are left untouched."""
    out, i = [], 0
    while True:
        m = _LTZ_CALL_RE.search(masked, i)
        if m is None:
            out.append(masked[i:])
            break
        start = m.end()  # index just past '('
        depth, j, top_comma = 1, start, False
        while j < len(masked) and depth:
            ch = masked[j]
            if ch == "(":
                depth += 1
            elif ch == ")":
                depth -= 1
            elif ch == "," and depth == 1:
                top_comma = True
            j += 1
        if depth:  # unbalanced parens: leave the tail untouched
            out.append(masked[i:])
            break
        arg = masked[start : j - 1].strip()
        out.append(masked[i : m.start()])
        if top_comma or not arg or arg.startswith("\x00"):
            out.append(masked[m.start() : j])
        else:
            out.append(f"timestamp_millis(CAST({arg} AS BIGINT))")
        i = j
    return "".join(out)


def rewrite(sql: str, *, tvf_group_struct: bool = False) -> str:
    """Rewrite one Flink-SQL statement into Spark SQL.

    ``tvf_group_struct``: retry variant for streaming INSERTs into
    append sinks — window TVF aggregations keep the window() struct
    in the relation and GROUP BY so Spark's append-mode checker
    recognizes the windowed aggregation (see _rewrite_tvfs)."""
    masked, lits = _mask(sql)
    _rewrite_hints(lits)
    masked = _rewrite_tvfs(masked, lits, group_struct=tvf_group_struct)
    masked = _rewrite_legacy_group_windows(masked, lits)
    masked = _rewrite_temporal_join(masked)
    masked = _rewrite_lateral_unnest(masked)
    masked = _rewrite_constructors(masked)
    masked = _rewrite_subscripts(masked)
    masked = _rewrite_similar_to(masked, lits)
    masked = _rewrite_types(masked)
    masked = _rewrite_groups_frames(masked)
    masked = _rewrite_misc(masked)
    return _unmask(masked, lits)
