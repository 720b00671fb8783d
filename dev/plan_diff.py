#!/usr/bin/env python3
"""Compare two `graft.Explain` dumps query by query, ignoring expression ids.

usage: python3 dev/plan_diff.py <a.txt> <b.txt> [--rename OLD=NEW ...] [query ...]

Each dump is the stdout of
`sbt "runMain graft.Explain <sfDir> <query> [query...]"`: one
`===== <query> =====` header per query, then its formatted plan (dumps
of one query each may be concatenated; sbt's log lines are skipped). Before
comparing, every expression id (`#123`), plan id (`plan_id=12`), lambda
variable counter (`lambda x_12`), RDD id (`RDD[12]`) and identity hash
(`@1b2c3d4e`) is dropped, so two builds of one plan compare equal.
`--rename OLD=NEW` rewrites the column `OLD#…` of the first dump to
`NEW#…` (e.g. a renamed aggregate alias); repeat it for several columns.
Trailing query names restrict the comparison to those queries.

Lists each query whose plan differs, with the lines that remain different,
and each query found in one dump only; exits 1 if there is any.

Dump the whole catalog in ONE JVM per commit, except the queries whose
plans vary between builds in one JVM (CHANGES.md, FOUND: q_profile,
q_holm, q_bh, q_srm_sweep, q_friedman, q_cochran_q, q_cramers_v,
q_storey, q_kendall_w — distinct-aggregate Expand numbering and union
branch order follow expression-id hash order): dump each of those alone,
one JVM per query, at both commits.
"""
import argparse, difflib, re, sys

HEADER = re.compile(r'^===== (\S+) =====$')
# sbt's own log lines, e.g. between the queries of concatenated one-query dumps
SBT_LOG = re.compile(r'^\[(info|warn|error|success)\]')
NOISE = [
    (re.compile(r'#\d+'), '#'),
    (re.compile(r'plan_id=\d+'), 'plan_id='),
    (re.compile(r'\blambda (\w+?)_\d+'), r'lambda \1_'),
    (re.compile(r'RDD\[\d+\]'), 'RDD[]'),
    (re.compile(r'@[0-9a-f]{6,8}\b'), '@'),
]


def plans(path, renames=()):
    out, name = {}, None
    for line in open(path, encoding='utf-8', errors='replace'):
        line = line.rstrip('\n')
        m = HEADER.match(line)
        if m:
            name = m.group(1)
            out[name] = []
            continue
        if name is None or SBT_LOG.match(line):
            continue
        for old, new in renames:
            line = re.sub(rf'\b{re.escape(old)}#', f'{new}#', line)
        for pat, rep in NOISE:
            line = pat.sub(rep, line)
        out[name].append(line)
    return out


def main():
    ap = argparse.ArgumentParser(description=__doc__.split('\n')[0])
    ap.add_argument('a')
    ap.add_argument('b')
    ap.add_argument('queries', nargs='*')
    ap.add_argument('--rename', action='append', default=[], metavar='OLD=NEW')
    args = ap.parse_intermixed_args()
    renames = [tuple(r.split('=', 1)) for r in args.rename]
    a, b = plans(args.a, renames), plans(args.b)
    names = args.queries or sorted(set(a) | set(b))
    bad = 0
    for name in names:
        if name not in a or name not in b:
            print(f"{name}: only in {args.a if name in a else args.b}")
            bad += 1
            continue
        if a[name] == b[name]:
            continue
        bad += 1
        diff = [d for d in difflib.unified_diff(a[name], b[name], lineterm='', n=0)
                if d[:1] in '+-' and not d.startswith(('---', '+++'))]
        print(f"{name}: {len(diff)} differing lines")
        for d in diff:
            print(f"  {d}")
    print(f"{len(names) - bad}/{len(names)} queries have identical plans")
    return 1 if bad else 0


if __name__ == '__main__':
    sys.exit(main())
