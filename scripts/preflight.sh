#!/usr/bin/env bash
# Pre-snapshot gate: the exact mechanical checks whose absence let a
# SyntaxError empty an entire round's correctness record (round 3).
# Run before every snapshot / handoff:
#
#   bash scripts/preflight.sh          # full gate (compile + pytest + sweep)
#   bash scripts/preflight.sh quick    # compile + registry import only
#
# Exit code 0 == safe to snapshot.
set -euo pipefail
cd "$(dirname "$0")/.."

echo "== 1/4 byte-compile every source file =="
python -m py_compile $(find dynamodb_streaming_datalake_spark -name '*.py') \
    __spark_entry__.py bench.py

echo "== 2/4 registry imports + driver contract shape =="
python - <<'EOF'
from dynamodb_streaming_datalake_spark.registry import all_queries, all_oracle_sql, PRIORITY
q, o = all_queries(), all_oracle_sql()
missing = [n for n in PRIORITY if n not in q]
assert not missing, f"PRIORITY names not registered: {missing}"
assert set(q) == set(o), f"queries without oracle SQL: {set(q) ^ set(o)}"
import __spark_entry__ as e
assert set(e.queries()) == set(q)
print(f"registry OK: {len(q)} queries, {len(o)} oracles; window head: {list(q)[:3]}")
EOF
python scripts/rotate_window.py --check
python scripts/refresh_budgets.py --check

# dead-code guard: a module-level function whose name occurs nowhere
# else in the repo's .py files is unreferenced (pytest's test_*
# functions, @query-registered queries and names built by a
# globals()[f"<prefix>{...}"] lookup are reached by name lookup); a
# module-level function or class defined twice in one module is dead
# in its first definition, which the second replaces at import
python - <<'EOF'
import ast, os, re, sys
from collections import Counter

srcs = {}
for root, dirs, files in os.walk("."):
    dirs[:] = [d for d in dirs if not d.startswith((".", "__"))]
    for f in files:
        if f.endswith(".py"):
            p = os.path.join(root, f)
            srcs[p] = open(p, encoding="utf-8").read()
words = Counter(w for s in srcs.values() for w in re.findall(r"\w+", s))
looked_up = tuple(re.findall(r'globals\(\)\[f"(\w+)\{', "\n".join(srcs.values())))
trees = {p: ast.parse(s, p) for p, s in sorted(srcs.items())}
defs = (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)
twice = []
for p, tree in trees.items():
    seen = set()
    for n in tree.body:
        if isinstance(n, defs):
            if n.name in seen:
                twice.append(f"{p}:{n.lineno} {n.name}")
            seen.add(n.name)
if twice:
    sys.exit("module-level names defined twice in one module:\n" + "\n".join(twice))
dead = [
    f"{p}:{n.lineno} {n.name}"
    for p, tree in trees.items()
    for n in tree.body
    if isinstance(n, (ast.FunctionDef, ast.AsyncFunctionDef))
    and not n.name.startswith(("test_", *looked_up))
    and not any(
        isinstance(d, ast.Call) and getattr(d.func, "id", None) == "query"
        for d in n.decorator_list
    )
    and words[n.name] <= 1
]
if dead:
    sys.exit("unreferenced module-level functions:\n" + "\n".join(dead))
print("dead-code scan OK")
EOF

if [ "${1:-}" = "quick" ]; then
    echo "preflight (quick) PASSED"
    exit 0
fi

echo "== 3/4 pytest (default suite) =="
python -m pytest tests/ -q

echo "== 4/4 full oracle-parity sweep at sf0.01 (the driver's gate scale) =="
python -m pytest tests/test_oracle_parity.py -q -m oracle_full

echo "preflight PASSED"
