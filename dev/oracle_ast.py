#!/usr/bin/env python3
"""Compare two oracle_sql.json dumps by parsed SQL, not by text.

usage: python3 dev/oracle_ast.py <a/oracle_sql.json> <b/oracle_sql.json>

Each query is parsed by DuckDB (`json_serialize_sql`) with `query_location`
stripped, so whitespace, line breaks and redundant parentheses do not count
and a precedence change does. Lists every query whose AST differs, is missing
on one side, or does not parse; exits 1 if there is any.
"""
import duckdb, json, sys


def strip(node):
    if isinstance(node, dict):
        return {k: strip(v) for k, v in node.items() if k != 'query_location'}
    if isinstance(node, list):
        return [strip(v) for v in node]
    return node


def ast(con, sql):
    out = json.loads(con.execute('SELECT json_serialize_sql(?::VARCHAR)', [sql]).fetchone()[0])
    if out.get('error'):
        raise ValueError(out.get('error_message', out))
    return strip(out['statements'])


def main(a_path, b_path):
    a, b = json.load(open(a_path)), json.load(open(b_path))
    con = duckdb.connect()
    bad = []
    for name in sorted(set(a) | set(b)):
        if name not in a or name not in b:
            bad.append(f"{name}: only in {a_path if name in a else b_path}")
            continue
        try:
            same = ast(con, a[name]) == ast(con, b[name])
        except Exception as e:
            bad.append(f"{name}: does not serialize ({e})")
            continue
        if not same:
            bad.append(f"{name}: AST differs")
    print('\n'.join(bad))
    n = len(set(a) | set(b))
    print(f"{n - len(bad)}/{n} queries parse to identical ASTs")
    return 1 if bad else 0


if __name__ == '__main__':
    if len(sys.argv) != 3:
        sys.exit(__doc__)
    sys.exit(main(sys.argv[1], sys.argv[2]))
