"""The consume_sql statement cycle and its DuckDB oracle.

Every statement is written once as a template over `{src}`. For the
program, `{src}` is the `fluvio_consume('<cmd>')` call; for the oracle it
is a DuckDB subquery over the generated segment files that applies the
same window, SmartModule filter and `-c` mappings, with the reference's
semantics (SURVEY §1.2: a JSON string maps to VARCHAR verbatim).
"""
import numpy as np

KINDS = ("small", "admin", "agg", "deep", "filter", "jolt")

# One cycle: 12 small windows, 2 admin scans, 3 full-window aggregates,
# 1 deep window, 1 capped SmartModule filter, 1 jolt chain. Small windows
# hold ranks 3-14 of 20 by cost, so the median statement is a small window
# and the 90th percentile an aggregate or the filter, whatever the seed's
# window parameters.
CYCLE = ["small", "agg", "small", "admin", "small", "deep", "small", "small",
         "filter", "small", "agg", "small", "small", "admin", "small", "jolt",
         "small", "small", "agg", "small"]

# jolt shift of the reference's examples/short.yaml shape, flattening VP
JOLT_SHIFT = {"VP": {"spd": "speed", "veh": "vehicle", "route": "route",
                     "lat": "lat", "long": "long"}}
JOLT_SOURCE = {"speed": "VP.spd", "vehicle": "VP.veh", "route": "VP.route",
               "lat": "VP.lat", "long": "VP.long"}

AGGS = [
    # the reference README's flagship: SELECT route, avg(speed) ... GROUP BY route
    ("SELECT route, avg(spd) AS avg_spd, count(*) AS n FROM {src} "
     "GROUP BY route ORDER BY route NULLS FIRST",
     [("route", "s", "VP.route"), ("spd", "d", "VP.spd")]),
    ("SELECT CAST(floor(hdg / 90) AS INT) AS quadrant, count(*) AS n, "
     "avg(spd) AS avg_spd, max(veh) AS max_veh FROM {src} GROUP BY 1 ORDER BY 1",
     [("hdg", "i", "VP.hdg"), ("spd", "d", "VP.spd"), ("veh", "i", "VP.veh")]),
    ("SELECT oper, count(*) AS n, sum(odo) AS odo_sum, sum(drst) AS drst_sum, "
     "avg(occu) AS avg_occu FROM {src} GROUP BY oper ORDER BY oper",
     [("oper", "i", "VP.oper"), ("odo", "l", "VP.odo"), ("drst", "i", "VP.drst"),
      ("occu", "i", "VP.occu")]),
]

SMALL_SELECT = ("SELECT count(*) AS n, sum(veh) AS veh_sum, avg(spd) AS spd_avg "
                "FROM {src}")
SMALL_MAPS = [("veh", "i", "VP.veh"), ("spd", "d", "VP.spd")]
ALL_ROWS = 1000000000
DEFAULT_ROWS = 1000  # the reference's `--rows` default


def _maps(maps):
    return " ".join("-c %s%s=%s" % (n, "" if t == "s" else ":" + t, p) for n, t, p in maps)


# Window sizes are fixed so that every seed's cycle does the same work;
# the seed moves the windows and picks partitions and filter values.
SMALL_ROWS = 500
DEEP_ROWS = 1500
FILTER_ROWS = 200
JOLT_ROWS = 600


def make_ops(seed, meta, shift_file):
    """The run's seeded statement cycle over the `transit` topic `meta`."""
    rng = np.random.default_rng([seed, 10])
    P, leo, seg = meta["partitions"], meta["leo"], meta["per_segment"]
    all_parts = list(range(P))
    ops = []
    agg_i = 0
    small_i = 0
    admin_i = 0
    for i, kind in enumerate(CYCLE):
        op = {"id": "q%02d-%s" % (i, kind), "kind": kind}
        if kind == "small":
            variant = small_i % 3
            small_i += 1
            n = SMALL_ROWS
            if variant == 0:
                cmd = "transit -A -T %d" % n
                win = {p: (leo - n, leo) for p in all_parts}
            elif variant == 1:
                h = int(rng.integers(0, leo - n))
                cmd = "transit -A -H %d --rows %d" % (h, n)
                win = {p: (h, h + n) for p in all_parts}
            else:
                p = int(rng.integers(0, P))
                s = int(rng.integers(0, leo - n))
                cmd = "transit -p %d --start %d --end %d" % (p, s, s + n - 1)
                win = {p: (s, min(s + n, s + DEFAULT_ROWS))}
            op.update(select=SMALL_SELECT, cmd=cmd + " " + _maps(SMALL_MAPS),
                      maps=SMALL_MAPS, window=win)
        elif kind == "admin":
            if admin_i % 2 == 0:
                op.update(sql="SELECT name, partitions FROM fluvio_topics()",
                          expect=[["transit", P]])
            else:
                op.update(sql="SELECT topic, partition, LEO FROM fluvio_partitions() "
                              "ORDER BY partition",
                          expect=[["transit", str(p), leo] for p in all_parts])
            admin_i += 1
        elif kind == "agg":
            select, maps = AGGS[agg_i % len(AGGS)]
            agg_i += 1
            op.update(select=select,
                      cmd="transit -A -B --rows %d %s" % (ALL_ROWS, _maps(maps)),
                      maps=maps, window={p: (0, leo) for p in all_parts})
        elif kind == "deep":
            r = DEEP_ROWS
            s = int(rng.integers(leo - 3 * seg, leo - r))
            op.update(select=SMALL_SELECT,
                      cmd="transit -A --start %d --rows %d %s" % (s, r, _maps(SMALL_MAPS)),
                      maps=SMALL_MAPS, window={p: (s, s + r) for p in all_parts})
        elif kind == "filter":
            p = int(rng.integers(0, P))
            s = int(rng.integers(leo - 4 * seg, leo - 2 * seg))
            r = FILTER_ROWS
            mode = ["bus", "tram", "train", "metro", "ferry"][int(rng.integers(0, 5))]
            op.update(select="SELECT count(*) AS n, min({o}) AS lo, max({o}) AS hi, "
                             "sum(length(value)) AS bytes FROM {src}",
                      cmd="transit -p %d --start %d --smartmodule graft/filter-json-eq "
                          "-e key=mode -e value=%s --rows %d" % (p, s, mode, r),
                      maps=[], window={p: (s, leo)}, filter=("mode", mode, r))
        elif kind == "jolt":
            n = JOLT_ROWS
            maps = [("speed", "d", "speed"), ("vehicle", "i", "vehicle")]
            op.update(select="SELECT count(*) AS n, avg(speed) AS speed_avg, "
                             "sum(vehicle) AS veh_sum FROM {src}",
                      cmd="transit -A -T %d --transforms-file %s %s" % (n, shift_file, _maps(maps)),
                      maps=maps, window={p: (leo - n, leo) for p in all_parts}, jolt=True)
        if "select" in op:
            op["sql"] = op["select"].format(src="fluvio_consume('%s')" % op["cmd"], o="`offset`")
            op["window_rows"] = sum(hi - lo for lo, hi in op["window"].values())
        ops.append(op)
    return ops


def shift_yaml():
    """The `--transforms-file` for the jolt statements."""
    lines = ["transforms:", "  - uses: infinyon/jolt@0.1.0", "    with:", "      spec:",
             "        - operation: shift", "          spec:", "            VP:"]
    lines += ['              %s: "%s"' % kv for kv in JOLT_SHIFT["VP"].items()]
    return "\n".join(lines) + "\n"


# ---- oracle ----------------------------------------------------------------

NUMBER = r"-?[0-9]+(\.[0-9]+)?([eE][+-]?[0-9]+)?"
DUCK_TYPES = {"i": "INTEGER", "l": "BIGINT", "d": "DOUBLE", "f": "FLOAT"}


def _mapped(name, ty, path, jolt, defect):
    src = JOLT_SOURCE[path] if jolt else path
    text = "json_extract_string(value, '$.%s')" % src
    if ty == "s":
        if defect:
            # the program's current VARCHAR rule: text that looks like a
            # number is dropped, even when the JSON token is a string
            return "CASE WHEN regexp_full_match(%s, '%s') THEN NULL ELSE %s END AS %s" % (
                text, NUMBER, text, name)
        return "%s AS %s" % (text, name)
    return "TRY_CAST(%s AS %s) AS %s" % (text, DUCK_TYPES[ty], name)


def oracle_sql(op, defect=False):
    conds = " OR ".join("(partition = %d AND off >= %d AND off < %d)" % (p, lo, hi)
                        for p, (lo, hi) in sorted(op["window"].items()))
    cols = ['off AS "offset"', "value"] + [
        _mapped(n, t, p, op.get("jolt", False), defect) for n, t, p in op["maps"]]
    sub = "SELECT %s FROM rec WHERE (%s)" % (", ".join(cols), conds)
    if "filter" in op:
        key, val, rows = op["filter"]
        sub += " AND json_extract_string(value, '$.%s') = '%s' ORDER BY off LIMIT %d" % (
            key, val, rows)
    return op["select"].format(src="(%s)" % sub, o='"offset"')


def has_varchar_mapping(op):
    return any(t == "s" for _, t, _ in op.get("maps", []))


def expected(con, data_dir, ops):
    """{op id: {"ref": rows, "defect": rows or None}} from DuckDB."""
    con.execute("CREATE OR REPLACE VIEW rec AS SELECT partition, \"offset\" AS off, value "
                "FROM read_parquet('%s/transit.parquet/*/*.parquet', hive_partitioning = true)"
                % data_dir)
    out = {}
    for op in ops:
        if "expect" in op:
            out[op["id"]] = {"ref": op["expect"], "defect": None}
            continue
        ref = [list(r) for r in con.execute(oracle_sql(op)).fetchall()]
        defect = None
        if has_varchar_mapping(op):
            defect = [list(r) for r in con.execute(oracle_sql(op, defect=True)).fetchall()]
        out[op["id"]] = {"ref": ref, "defect": defect}
    return out
