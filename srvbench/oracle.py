"""Response checks against the generator's own expected answers.

``check(req, status, body)`` returns ``(ok, why)``.  Every response is
checked for status and shape; the value check compares against
``req["expect"]``, which gen.py computed with numpy/pandas.  Floats are
compared with a tolerance that covers the engine's different summation
order and the CSV sinks' 6-digit rendering.
"""

from __future__ import annotations

import json
import math

#: CSV sinks render doubles with up to 6 decimals
ABS_TOL = 1e-6
REL_TOL = 1e-9


def close(a, b) -> bool:
    return math.isclose(float(a), float(b), rel_tol=REL_TOL,
                        abs_tol=ABS_TOL)


def rows_equal(got, exp) -> tuple[bool, str]:
    """Row lists equal cell by cell; strings/ints exact, floats close."""
    if len(got) != len(exp):
        return False, f"{len(got)} rows, expected {len(exp)}"
    for i, (g, e) in enumerate(zip(got, exp)):
        if len(g) != len(e):
            return False, f"row {i}: {len(g)} cells, expected {len(e)}"
        for a, b in zip(g, e):
            if isinstance(b, str) or isinstance(a, str):
                ok = str(a) == str(b)
            elif isinstance(b, int) and not isinstance(b, bool):
                ok = int(a) == b
            else:
                ok = close(a, b)
            if not ok:
                return False, f"row {i}: got {list(g)}, expected {list(e)}"
    return True, ""


def _csv(body: bytes) -> list[list[str]]:
    return [ln.split(",") for ln in body.decode().splitlines() if ln]


def _num(x: str):
    return float("nan") if x == "NULL" else float(x)


def _samples(body: bytes) -> list[dict]:
    o = json.loads(body)
    if o.get("status") != "success":
        raise ValueError(f"lake status {o.get('status')!r}")
    return o["data"]["samples"]


def check(req: dict, status: int, body: bytes) -> tuple[bool, str]:
    kind, exp = req["kind"], req["expect"]
    want = 204 if kind == "lp" else 200
    if status != want:
        return False, f"HTTP {status}: {body[:200]!r}"
    try:
        return _check_body(kind, exp, body)
    except (ValueError, KeyError, IndexError, TypeError) as ex:
        return False, f"bad {kind} body ({ex!r}): {body[:200]!r}"


def _check_body(kind: str, exp, body: bytes) -> tuple[bool, str]:
    if kind in ("lake_raw", "lake_calc"):
        s = _samples(body)
        if len(s) != 1 or s[0]["tag_name"] != exp["tag"]:
            return False, "wrong sample tags"
        got = sorted((d["TIME"], d["VALUE"]) for d in s[0]["data"])
        return rows_equal(got, exp["rows"])
    if kind == "lake_last":
        got = [(x["tag_name"], d["TIME"], d["VALUE"])
               for x in _samples(body) for d in x["data"]]
        return rows_equal(got, exp["rows"])
    if kind == "lake_stat":
        got = [(x["tag_name"], d["ROW_COUNT"], d["MIN_VALUE"],
                d["MAX_VALUE"]) for x in _samples(body) for d in x["data"]]
        return rows_equal(got, exp["rows"])
    if kind == "lake_tags":
        got = json.loads(body)["data"]["tag"]
        return (got == exp["tags"],
                f"{len(got)} tags, expected {len(exp['tags'])}")
    if kind in ("dbq_json", "readback"):
        o = json.loads(body)
        if not o.get("success"):
            return False, f"query failed: {o.get('reason')}"
        got = o["data"]["rows"]
        if kind == "readback":      # no ORDER BY: compare in time order
            got = sorted(got, key=lambda r: r[1])
        return rows_equal(got, exp["rows"])
    if kind == "dbq_csv":
        lines = _csv(body)
        if lines[:1] != [["ts", "value"]]:
            return False, f"csv heading {lines[:1]}"
        return rows_equal([(int(a), float(b)) for a, b in lines[1:]],
                          exp["rows"])
    if kind == "tql_movavg":
        got = [(int(a), float(b), float(c)) for a, b, c in _csv(body)]
        return rows_equal(got, exp["rows"])
    if kind == "panel":
        got = [(a, int(b), float(c), float(d)) for a, b, c, d in _csv(body)]
        return rows_equal(got, exp["rows"])
    if kind.startswith("batch_"):
        got = [[_num(x) for x in r] for r in _csv(body)]
        return rows_equal(got, exp["rows"])
    if kind in ("ddl_csv", "raw_csv", "raw_ndjson", "lake_post"):
        o = json.loads(body)
        if not o.get("success"):
            return False, f"write refused: {o.get('reason')}"
        n = len(exp[1])
        if kind == "lake_post":
            ok = o["data"] == {"success": n, "fail": 0}
        else:
            ok = o["reason"].startswith(f"success, {n} record(s)")
        return ok, "" if ok else f"ack {o} for {n} rows"
    if kind == "lp":
        return body == b"", f"204 with body {body[:80]!r}"
    raise ValueError(f"no check for {kind}")


def multiset_diff(got: list[tuple], exp: list[tuple]) -> str:
    """'' when the two row lists hold the same (name, time, value) rows,
    else a short description of the first difference."""
    def key(r):
        return (str(r[0]), int(r[1]), round(float(r[2]), 6))
    g, e = sorted(map(key, got)), sorted(map(key, exp))
    if g == e:
        return ""
    missing = sorted(set(e) - set(g))
    extra = sorted(set(g) - set(e))
    return (f"{len(g)} rows vs {len(e)} expected; missing {missing[:3]} "
            f"extra {extra[:3]}")
