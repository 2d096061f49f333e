"""Seeded input generators for the benchmark workloads.

The logs have the line and entry classes of the repository's own fixture
logs, in the same shares: `graft.engine.gen.LogGen` renders one mongod
line per sf0.1 `events` row and one slow-log entry per sf0.1 `orders`
row, picking each row's class by its event type and by key moduli. The
generators here render the same classes from seeded synthetic rows whose
event types, user ids, durations and dates are drawn like sf0.1's (shares
and ranges below, measured on the sf0.1 tables of TESTDATA.md), so the
seed changes every value but not the mix. FIXTURES.md classes that LogGen
lacks are added at the share stated where they are made.

Each generator writes the files the program reads and returns the plan:
what it planted (sheet row counts, per-fingerprint and per-error-signature
execution counts, warnings per kind, the routing census) and the census of
the inputs (bytes, lines, class and route shares, distinct fingerprints,
file count). `check_report` compares a written report with the plan.

Fingerprints are computed with the reference's own regexes
(mongo_parser.py / mysqlLogParser.py), so a report whose pattern counts
match the plan fingerprinted exactly as the reference does.
"""
import glob
import os
import random
import re
import zipfile

MONGO_NORMALIZE = re.compile(r"(:\s*[\"']?[^,{}\[\]]+[\"']?\s*(?=[,}]))")
MYSQL_NORMALIZE = re.compile(r"(\b\d+\b)|('[^']*')")


def _census(paths):
    return {
        "bytes": sum(os.path.getsize(p) for p in paths),
        "lines": sum(sum(1 for _ in open(p, "rb")) for p in paths),
        "files": len(paths),
    }


def _shares(counts, total):
    return {k: round(v / total, 5) for k, v in sorted(counts.items())}


# ----------------------------------------------------------------- mongo

# sf0.1 events: 100000 rows, event_type counts (LogGen's line class per
# type); user_id 0-1499; value ~ exponential, mean 49.87 (median 34.77);
# ts within 2024-01.
SF01_EVENT_TYPES = {"signup": 20302, "purchase": 20084, "view": 19941,
                    "click": 19863, "error": 19810}
SF01_USERS = 1500
SF01_VALUE_MEAN = 49.87
TS0_US = 1704067200 * 10**6  # 2024-01-01T00:00:00Z
MONTH_US = 30 * 86400 * 10**6

ERR3 = [("Connection error", "HostUnreachable", "Connection refused"),
        ("Index build failed", "IndexBuildAborted", "index build failed on collection"),
        ("Authentication failed", "AuthenticationFailed", "SCRAM mechanism failed")]
ERR_SLOW = ("Slow query", "InternalError", "error while logging slow query")


def _mongo_line(eid, etype, uid, ts, dur):
    """LogGen.mongoLines for one events row, plus FIXTURES.md's empty /
    whitespace-only line class: returns (line, class, command or None,
    error signature or None). `class` names the route it takes."""
    app_ns = "app%d.coll%d" % (uid % 3, eid % 5)
    coll = "coll%d" % (eid % 5)
    head = '{"t":{"$date":"%s"},"s":"I","c":"COMMAND","id":51803,"ctx":"conn%d",' \
           '"msg":"Slow query","attr":' % (ts, uid)
    if etype == "click":
        cmd = '{"find":"%s","filter":{"user_id":%d},"limit":%d}' % (coll, uid, eid % 20)
        keys = "" if eid % 10 == 0 else '"keysExamined":%d,"docsExamined":%d,' % (
            eid % 50, eid % 500)
        return (head + '{"type":"command","ns":"%s","command":%s,"planSummary":"COLLSCAN",'
                '%s"numYields":%d,"nreturned":%d,"durationMillis":%s}}' % (
                    app_ns, cmd, keys, eid % 5, eid % 25, dur)), "slow_find", cmd, None
    if etype == "purchase":
        if eid % 2 == 0:
            cmd = ('{"aggregate":"%s","pipeline":[{"$match":{"user_id":%d}},'
                   '{"$group":{"_id":"$status","n":{"$sum":1}}}],"cursor":{}}' % (coll, uid))
            cls = "slow_agg_match"
        else:
            cmd = ('{"aggregate":"%s","pipeline":[{"$sort":{"ts":-1}},{"$limit":%d}],'
                   '"cursor":{}}' % (coll, eid % 9))
            cls = "slow_agg_complex"
        return (head + '{"type":"command","ns":"%s","command":%s,"numYields":%d,'
                '"nreturned":%d,"durationMillis":%s}}' % (app_ns, cmd, eid % 5, eid % 25, dur)
                ), cls, cmd, None
    if etype == "error":
        # eid % 4 == 0: msg "Slow query" on an error line, no ns and no
        # command: routed both ways (AppName "", Collection "N/A", "{}")
        sig = ERR_SLOW if eid % 4 == 0 else ERR3[uid % 3]
        line = ('{"t":{"$date":"%s"},"s":"E","c":"STORAGE","id":22435,"ctx":"conn%d",'
                '"msg":"%s","attr":{"error":{"code":%d,"codeName":"%s","errmsg":"%s"}}}' % (
                    ts, uid, sig[0], uid % 3 + 100, sig[1], sig[2]))
        return line, ("slow_error" if eid % 4 == 0 else "error"), (
            "{}" if eid % 4 == 0 else None), sig
    if etype == "view":
        k = eid % 7
        # four shapes that make the reference raise a generic exception on
        # the slow path (scalar t, string attr, numeric ns, scalar command)
        if k == 0:
            return ('{"t":%d,"s":"I","c":"COMMAND","id":51803,"ctx":"conn%d","msg":"Slow query",'
                    '"attr":{"ns":"%s","durationMillis":%s}}' % (eid, uid, app_ns, dur)
                    ), "slow_bad_shape", None, None
        if k == 1:
            return head + '"overloaded"}', "slow_bad_shape", None, None
        if k == 2:
            return head + '{"ns":%d,"durationMillis":%s}}' % (eid % 100, dur), \
                "slow_bad_shape", None, None
        if k == 3:
            return head + '{"ns":"%s","command":%d,"durationMillis":%s}}' % (
                app_ns, eid % 50, dur), "slow_bad_shape", None, None
        if k == 4:  # scalar t off the slow path: still a non-slow line
            return ('{"t":%d,"s":"I","c":"NETWORK","id":22944,"ctx":"listener",'
                    '"msg":"Client metadata","attr":{"remote":"10.0.0.%d"}}' % (eid, uid % 255)
                    ), "non_slow", None, None
        return ('{"t":{"$date":"%s"},"s":"I","c":"NETWORK","id":22943,"ctx":"listener",'
                '"msg":"Connection accepted","attr":{"remote":"10.0.0.%d:%d",'
                '"connectionCount":%d}}' % (ts, uid % 255, eid % 60000, uid % 100)
                ), "non_slow", None, None
    # signup: LogGen makes eid % 3 == 0 invalid JSON; half of those
    # (eid % 6 == 0) are FIXTURES.md's empty / whitespace-only class
    if eid % 6 == 0:
        return ("" if eid % 12 == 0 else "   "), "invalid_json", None, None
    if eid % 3 == 0:
        return "signup event %d at %s {unterminated" % (uid, ts), "invalid_json", None, None
    return ('{"t":{"$date":"%s"},"s":"I","c":"ACCESS","msg":"Successfully authenticated",'
            '"attr":{"principal":"u%d"}}' % (ts, uid)), "non_slow", None, None


# route of each class: (detailed, error stats, non-slow, parse warning)
MONGO_ROUTES = {
    "slow_find": "slow", "slow_agg_match": "slow", "slow_agg_complex": "slow",
    "slow_error": "slow+error", "error": "error", "non_slow": "non_slow",
    "slow_bad_shape": "parse_error", "invalid_json": "parse_error",
}


def mongo_log(out_dir, seed, lines):
    """One mongod >= 4.4 JSON log of `lines` lines, the line of event
    row `eid` on line eid + 1, as LogGen numbers them."""
    rng = random.Random(seed)
    types = list(SF01_EVENT_TYPES)
    weights = [SF01_EVENT_TYPES[t] for t in types]
    os.makedirs(out_dir, exist_ok=True)
    path = os.path.join(out_dir, "mongod.log")
    patterns, errors, classes = {}, {}, {}
    with open(path, "w") as f:
        for eid in range(lines):
            etype = rng.choices(types, weights)[0]
            uid = rng.randrange(SF01_USERS)
            ts = str(TS0_US + rng.randrange(MONTH_US))
            dur = str(int(rng.expovariate(1 / SF01_VALUE_MEAN) * 100))
            line, cls, cmd, sig = _mongo_line(eid, etype, uid, ts, dur)
            classes[cls] = classes.get(cls, 0) + 1
            if cmd is not None:
                pat = MONGO_NORMALIZE.sub(":<value>", cmd)
                patterns[pat] = patterns.get(pat, 0) + 1
            if sig is not None:
                errors["|".join(sig)] = errors.get("|".join(sig), 0) + 1
            f.write(line + "\n")
    routes = {}
    for cls, n in classes.items():
        for r in MONGO_ROUTES[cls].split("+"):
            routes[r] = routes.get(r, 0) + n
    census = _census([path])
    census["class_share"] = _shares(classes, lines)
    census["route_share"] = _shares(routes, lines)
    census["fingerprints"] = len(patterns)
    census["error_signatures"] = len(errors)
    return {"input": path, "census": census,
            "sheets": {"Detailed Metrics": routes["slow"],
                       "Query Stats": len(patterns),
                       "Non-Slow Queries": routes["non_slow"],
                       "Error Stats": len(errors)},
            "warnings": {"Line ": routes["parse_error"]},
            "patterns": patterns, "errors": errors,
            # the routing census `MongoLogPipeline.observed` must report
            "trace_counts": {"mongo.lines": lines, "mongo.slow": routes["slow"],
                             "mongo.errors": routes["error"],
                             "mongo.non_slow": routes["non_slow"],
                             "mongo.parse_errors": routes["parse_error"]},
            "keyed": [["patterns", "Query Stats", ["Query Pattern"], "Executions"],
                      ["errors", "Error Stats", ["msg", "error", "errmsg"], "totalCount"]]}


# ----------------------------------------------------------------- mysql

# sf0.1 orders: keys 0-149999, o_custkey 0-14999, o_orderdate days in
# 1995-01-01 .. 2001-08-01.
SF01_CUSTOMERS = 15000
DATE0_US = 788918400 * 10**6  # 1995-01-01T00:00:00Z
DATES_DAYS = 2404
LOG_TABLES = ["orders", "customer", "part"]
# LogGen's template 0 is `SELECT * FROM <table> WHERE id = <key>`, one
# fingerprint per table. Here it reads an IN-list of 1-48 ids from one of
# 20 partitions of the table, so the aggregate is wide: up to
# 3 x 20 x 48 = 2880 fingerprints.
IN_PARTS, IN_MAX = 20, 48
# FIXTURES.md entry classes LogGen lacks, one in a prime modulus of keys
# like LogGen's own rare classes (53, 97): a COMMIT entry, an entry
# without its `# Query_time:` line
COMMIT_MOD, NO_QT_MOD = 59, 89

WARN_SKIP = "Skipped log entry "
WARN_QT = "Could not parse Query_time: '"
WARN_EMPTY = "Empty query string found in entry "


def _mysql_query(rng, key, cust):
    """LogGen.mysqlEntry's query for `key` (key % 5 picks the template;
    template 4 is the empty query), template 0 widened as above."""
    m = key % 5
    if key % COMMIT_MOD == 0:
        return "COMMIT;"
    if m == 0:
        table = "%s_p%d" % (LOG_TABLES[key % 3], rng.randrange(IN_PARTS))
        ids = ",".join(str(rng.randrange(10**6)) for _ in range(rng.randint(1, IN_MAX)))
        return "SELECT * FROM %s WHERE id IN (%s);" % (table, ids)
    if m == 1:
        return ("SELECT c_name FROM customer WHERE c_custkey = %d AND c_mktsegment = "
                "'SEG%d' AND c_acctbal > 19.99;" % (cust % 1500, key % 5))
    if m == 2:
        return ("UPDATE orders SET o_orderstatus = 'S' WHERE o_orderkey = %d; -- retry %d"
                % (key, key % 4))
    if m == 3:
        return ("SELECT o1.o_orderkey,\n  o1.o_totalprice\nFROM orders o1\n"
                "WHERE o1.o_custkey = %d LIMIT 10;" % (cust % 1500))
    return ""


def _mysql_entry(rng, key):
    """One entry as LogGen renders it; returns (text, class, query).
    key % 53: broken User@Host (skipped); key % 97: unparsable
    Query_time (0.0 + warning); NO_QT_MOD: no Query_time line (skipped)."""
    cust = rng.randrange(SF01_CUSTOMERS)
    date_us = DATE0_US + rng.randrange(DATES_DAYS) * 86400 * 10**6
    query = _mysql_query(rng, key, cust)
    marker = "thread-id:" if key % 53 == 0 else "thread_id:"
    qt = "bad" if key % 97 == 0 else str(key % 7)
    qt_line = "" if key % NO_QT_MOD == 0 else (
        "# Query_time: %s Lock_time: 0.00%d Rows_sent: %d Rows_examined: %d\n" % (
            qt, key % 10, key % 100, key % 1000))
    text = ("# Time: %d\n# User@Host: user%d[u] @ host%d [10.0.0.%d] %s %d\n%s"
            "SET timestamp=%d;\n%s") % (
        date_us, cust % 20, cust % 7, cust % 7, marker, cust % 50, qt_line,
        key + 1700000000, query + "\n" if query else "")
    if key % 53 == 0 or key % NO_QT_MOD == 0:
        cls = "skipped"
    elif key % 97 == 0:
        cls = "bad_query_time"
    elif query == "":
        cls = "empty_query"
    elif query == "COMMIT;":
        cls = "commit"
    else:
        cls = ["in_list", "select_literals", "update", "multi_line_select"][key % 5]
    return text, cls, query


def mysql_log(out_dir, seed, entries, rotated_files):
    """One slow log of `entries` entries (keys 0..entries-1, as LogGen's
    orders keys) behind the server's preamble, plus the same bytes
    rotated into `rotated_files` files."""
    rng = random.Random(seed)
    single = os.path.join(out_dir, "single")
    rotated = os.path.join(out_dir, "rotated")
    os.makedirs(single, exist_ok=True)
    os.makedirs(rotated, exist_ok=True)
    header = ("/usr/sbin/mysqld, Version: 8.0.36 (MySQL Community Server - GPL). "
              "started with:\nTcp port: 3306  Unix socket: /var/run/mysqld/mysqld.sock\n"
              "Time                 Id Command    Argument\n")
    texts, patterns, classes = [], {}, {}
    warnings = {WARN_SKIP: 0, WARN_QT: 0, WARN_EMPTY: 0}
    for key in range(entries):
        text, cls, query = _mysql_entry(rng, key)
        texts.append(text)
        classes[cls] = classes.get(cls, 0) + 1
        if cls == "skipped":
            warnings[WARN_SKIP] += 1
            continue
        # an entry can be both: an empty query with a bad Query_time
        warnings[WARN_QT] += key % 97 == 0
        warnings[WARN_EMPTY] += query == ""
        pat = "N/A (Query not captured)" if query == "" else MYSQL_NORMALIZE.sub("?", query).upper()
        patterns[pat] = patterns.get(pat, 0) + 1
    path = os.path.join(single, "mysql-slow.log")
    with open(path, "w") as f:
        f.write(header + "".join(texts))
    per = (entries + rotated_files - 1) // rotated_files
    for k in range(rotated_files):
        with open(os.path.join(rotated, "mysql-slow.log.%02d" % k), "w") as f:
            f.write((header if k == 0 else "") + "".join(texts[k * per:(k + 1) * per]))
    skipped = classes.get("skipped", 0)
    census = _census([path])
    census["class_share"] = _shares(classes, entries)
    census["route_share"] = {"detailed": round((entries - skipped) / entries, 5),
                             "skipped": round(skipped / entries, 5)}
    census["fingerprints"] = len(patterns)
    census["entries"] = entries
    census["rotated_files"] = rotated_files
    return {"input": single, "rotated_input": rotated, "census": census,
            "sheets": {"Detailed Metrics": entries - skipped,
                       "Aggregate Results": len(patterns)},
            "warnings": warnings, "patterns": patterns,
            "trace_counts": {"mysql.entries": entries,
                             "mysql.warnings": sum(warnings.values()),
                             "mysql.patterns": len(patterns)},
            "keyed": [["patterns", "Aggregate Results", ["Normalized_Query"], "Executions"]]}


# ----------------------------------------------------------------- check

def check_report(out, plan):
    """None when the report in `out` (per-sheet parquet dirs, warnings,
    report.xlsx) matches the plan, else what differs."""
    import pyarrow.parquet as pq
    problems = []
    for sheet, want in plan["sheets"].items():
        got = pq.read_table(os.path.join(out, sheet)).num_rows
        if got != want:
            problems.append("%s rows %d != %d" % (sheet, got, want))
    for field, sheet, keys, count in plan["keyed"]:
        rows = pq.read_table(os.path.join(out, sheet), columns=keys + [count]).to_pylist()
        got = {"|".join(str(r[k]) for k in keys): r[count] for r in rows}
        want = plan[field]
        diff = sorted(k for k in set(got) | set(want) if got.get(k) != want.get(k))
        if diff:
            problems.append("%s: %d keys differ, e.g. %r %s != %s" % (
                sheet, len(diff), diff[0][:80], got.get(diff[0]), want.get(diff[0])))
    # a warning may span lines (the MySQL skip warning quotes the entry);
    # each starts with its kind's fixed text
    lines = [line for p in glob.glob(os.path.join(out, "warnings", "part-*"))
             for line in open(p, encoding="utf-8")]
    for start, want in plan["warnings"].items():
        got = sum(line.startswith(start) for line in lines)
        if got != want:
            problems.append("warnings %r %d != %d" % (start, got, want))
    with zipfile.ZipFile(os.path.join(out, "report.xlsx")) as z:
        n = sum(e.startswith("xl/worksheets/sheet") for e in z.namelist())
    if n != len(plan["sheets"]):
        problems.append("report.xlsx has %d sheets, not %d" % (n, len(plan["sheets"])))
    return "; ".join(problems) or None
