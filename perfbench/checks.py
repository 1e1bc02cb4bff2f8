"""Correctness checks of a benchmark run, made after the JVM has exited,
outside every timed region.

Batch entries are compared with their oracle SQL run in DuckDB over the
same input tables by tools/check.py itself. The live
topology's final tables are compared with a latest-per-key computed here
from the generated records."""
import csv
import json
import os
import re
import subprocess
import sys

VERDICT = re.compile(r"(PASS|FAIL|NOORACLE) (\S+): (.*)")


def oracle_check(root, data_dir, results_dir, oracle_sql):
    """{entry: verdict} from tools/check.py run over `results_dir`, which
    holds one parquet directory per entry: "OK..." when the rows match the
    oracle, "NOORACLE" for an entry without one, else the first
    difference. An entry without a verdict was not checked."""
    with open(os.path.join(results_dir, "oracle_sql.json"), "w") as f:
        json.dump(oracle_sql, f)
    p = subprocess.run([sys.executable, os.path.join(root, "tools", "check.py"), data_dir, results_dir],
                       capture_output=True, text=True, stdin=subprocess.DEVNULL, timeout=60)
    out = {}
    for line in p.stdout.splitlines():
        m = VERDICT.match(line)
        if m:
            out[m[2]] = "NOORACLE" if m[1] == "NOORACLE" else m[3]
    return out


def _tsv(path):
    with open(path, newline="") as f:
        return list(csv.reader(f, delimiter="\t", quoting=csv.QUOTE_NONE))


def latest_per_key(records):
    """Reference table from (seq, key, value, ts) records: per key the
    record with the greatest ts, the last arrival winning equal ts. Also
    returns the keys whose winning ts is shared by records with other
    values, where the engine's tie-break is not fixed."""
    best, tied = {}, set()
    for seq, key, value, ts in sorted(records, key=lambda r: r[0]):
        cur = best.get(key)
        if cur is None or ts > cur[1]:
            best[key] = (value, ts)
            tied.discard(key)
        elif ts == cur[1]:
            if value != cur[0]:
                tied.add(key)
            best[key] = (value, ts)
    return best, tied


def live_check(phase_dir):
    """Compare the live topology's final table and filtered table with
    the reference. Returns (keys checked, wrong keys, tie mismatches):
    a differing key counts as wrong unless its latest ts is tied, in
    which case it is a tie mismatch."""
    records = [(int(s), k, v, int(t)) for s, k, v, t in _tsv(os.path.join(phase_dir, "events.tsv"))]
    ref, tied = latest_per_key(records)
    table = {k: (v, int(t)) for k, v, t in _tsv(os.path.join(phase_dir, "table.tsv"))}
    filtered = {k: (v, int(t)) for k, v, t in _tsv(os.path.join(phase_dir, "filtered.tsv"))}
    want_filtered = {k: r for k, r in ref.items() if r[0].lower() == "purchase"}
    wrong, ties = [], 0
    for key in sorted(set(ref) | set(table)):
        if table.get(key) != ref.get(key):
            if key in tied:
                ties += 1
            else:
                wrong.append(f"table key {key}: engine={table.get(key)} reference={ref.get(key)}")
    for key in sorted(set(want_filtered) | set(filtered)):
        if filtered.get(key) != want_filtered.get(key) and key not in tied:
            wrong.append(f"filtered key {key}: engine={filtered.get(key)} reference={want_filtered.get(key)}")
    return len(ref), wrong, ties
