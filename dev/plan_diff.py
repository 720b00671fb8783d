#!/usr/bin/env python3
"""Compare two `graft.Explain` dumps query by query, ignoring expression ids.

usage: python3 dev/plan_diff.py <a.txt> <b.txt> [--rename OLD=NEW ...] [query ...]

Each dump is the stdout of
`sbt "runMain graft.Explain <sfDir> <query> [query...]"`: one
`===== <query> =====` header per query, then its formatted plan (dumps
of one query each may be concatenated; sbt's log lines are skipped). Before
comparing, every expression id (`#123`), plan id (`plan_id=12`), lambda
variable counter (`lambda x_12`), common-expression counter
(`_common_expr_12`), RDD id (`RDD[12]`) and identity hash (`@1b2c3d4e`) is
dropped, so two builds of one plan compare equal; the rules are in
`dev/plan_noise.tsv`.
`--rename OLD=NEW` rewrites the column `OLD#…` of the first dump to
`NEW#…` (e.g. a renamed aggregate alias); repeat it for several columns.
Trailing query names restrict the comparison to those queries.

Lists each query whose plan differs, with the lines that remain different,
and each query found in one dump only; exits 1 if there is any.

Dump the whole catalog in ONE JVM per commit, except the queries whose
plans vary between builds in one JVM (3 passes of the catalog at sf0.001:
q_bcubed, q_bh, q_cochran_q, q_cramers_v, q_friedman, q_holm,
q_kendall_w, q_profile, q_storey — distinct-aggregate Expand numbering
and union branch order follow expression-id hash order): dump each of
those alone, one JVM per query, at both commits. The variation is
intermittent (q_srm_sweep varied in earlier passes), so a query that
differs only in Expand projections or aggregate key order is re-dumped
alone before it counts as moved.
"""
import argparse, difflib, os, re, sys

HEADER = re.compile(r'^===== (\S+) =====$')
# sbt's own log lines, e.g. between the queries of concatenated one-query dumps
SBT_LOG = re.compile(r'^\[(info|warn|error|success)\]')
# per-build noise, one `<regex>\t<replacement>` rule a line; PlanIdentitySpec
# reads the same file
NOISE_FILE = os.path.join(os.path.dirname(os.path.abspath(__file__)), 'plan_noise.tsv')
NOISE = [(re.compile(pat), rep) for pat, rep in
         (line.rstrip('\n').split('\t') for line in open(NOISE_FILE, encoding='utf-8') if line.strip())]


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
