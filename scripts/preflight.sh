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

# dead-code guard: a module-level function, or a module-level alias
# ``name = other_name``, whose name occurs nowhere else in the repo's
# .py files is unreferenced (pytest's test_* functions,
# @query-registered queries and names built by a
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
] + [
    f"{p}:{n.lineno} {n.targets[0].id} = {n.value.id}"
    for p, tree in trees.items()
    for n in tree.body
    if isinstance(n, ast.Assign)
    and len(n.targets) == 1
    and isinstance(n.targets[0], ast.Name)
    and isinstance(n.value, ast.Name)
    and words[n.targets[0].id] <= 1
]
if dead:
    sys.exit("unreferenced module-level functions or aliases:\n" + "\n".join(dead))
print("dead-code scan OK")
EOF

# one view kernel: the foreachBatch sink and the committed-version
# replay guard (``version in <a _versions(...) listing>``) each live
# in one function of streaming/views.py; a copy anywhere else in the
# package fails
python - <<'EOF'
import ast, os, sys

KERNEL = os.path.join("dynamodb_streaming_datalake_spark", "streaming", "views.py")


def lists_versions(n):
    return isinstance(n, ast.Call) and getattr(n.func, "id", None) == "_versions"


def hits(fn):
    """(kind, line) of each foreachBatch call and replay check in fn."""
    listed = {
        t.id
        for n in ast.walk(fn)
        if isinstance(n, ast.Assign) and lists_versions(n.value)
        for t in n.targets
        if isinstance(t, ast.Name)
    }
    for n in ast.walk(fn):
        if isinstance(n, ast.Call) and getattr(n.func, "attr", None) == "foreachBatch":
            yield "foreachBatch(", n.lineno
        if isinstance(n, ast.Compare) and any(isinstance(o, ast.In) for o in n.ops):
            if any(
                lists_versions(c) or (isinstance(c, ast.Name) and c.id in listed)
                for c in n.comparators
            ):
                yield "replay check", n.lineno


found = {"foreachBatch(": [], "replay check": []}
for root, dirs, files in os.walk("dynamodb_streaming_datalake_spark"):
    dirs[:] = sorted(d for d in dirs if not d.startswith((".", "__")))
    for f in sorted(files):
        if not f.endswith(".py"):
            continue
        p = os.path.join(root, f)
        tree = ast.parse(open(p, encoding="utf-8").read(), p)
        for fn in tree.body:
            if isinstance(fn, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
                for kind, line in sorted(set(hits(fn))):
                    found[kind].append((p, fn.name, line))
bad = [
    f"{kind} {places}"
    for kind, places in found.items()
    if len({(p, fn) for p, fn, _ in places}) != 1 or places[0][0] != KERNEL
]
if bad:
    sys.exit(f"each must occur in exactly one function of {KERNEL}:\n" + "\n".join(bad))
print("view kernel guard OK")
EOF

# one CDC parse site: parse_envelope( is called only inside
# operators/cdc.py's _parse_and_route, behind the Generate barrier that
# keeps Catalyst from copying the parse into the routing predicates; a
# call anywhere else in the repo's .py files fails
python - <<'EOF'
import ast, os, sys

SITE = (os.path.join(".", "dynamodb_streaming_datalake_spark", "operators", "cdc.py"), "_parse_and_route")


def calls(node, owner):
    """(owner function, line) of each parse_envelope(...) call under node."""
    for child in ast.iter_child_nodes(node):
        inner = child.name if isinstance(child, (ast.FunctionDef, ast.AsyncFunctionDef)) else owner
        if isinstance(child, ast.Call):
            f = child.func
            if getattr(f, "id", None) == "parse_envelope" or getattr(f, "attr", None) == "parse_envelope":
                yield owner, child.lineno
        yield from calls(child, inner)


bad = []
for root, dirs, files in os.walk("."):
    dirs[:] = sorted(d for d in dirs if not d.startswith((".", "__")))
    for f in sorted(files):
        if f.endswith(".py"):
            p = os.path.join(root, f)
            tree = ast.parse(open(p, encoding="utf-8").read(), p)
            bad += [f"{p}:{line} in {owner}" for owner, line in calls(tree, None) if (p, owner) != SITE]
if bad:
    sys.exit("parse_envelope( outside cdc._parse_and_route:\n" + "\n".join(bad))
print("one-parse-site guard OK")
EOF

# one nearest-centroid kernel per engine: the first-K init
# (F.col("vec_id").alias("cid" | "code")) is written only in
# operators/quantize.py's first_k, and the GEMM engine's unit-row
# normalisation (np.linalg.norm(..., keepdims=True)) only in
# operators/dedup.py's _unit; a copy anywhere else in the repo's .py
# files fails
python - <<'EOF'
import ast, os, sys

OPS = os.path.join(".", "dynamodb_streaming_datalake_spark", "operators")
SITES = {
    "first-K init": (os.path.join(OPS, "quantize.py"), "first_k"),
    "GEMM normalisation": (os.path.join(OPS, "dedup.py"), "_unit"),
}


def str_arg(call, value):
    return bool(call.args) and getattr(call.args[0], "value", None) == value


def kind(call):
    f = call.func
    if getattr(f, "attr", None) == "alias" and (str_arg(call, "cid") or str_arg(call, "code")):
        recv = f.value
        if isinstance(recv, ast.Call) and str_arg(recv, "vec_id"):
            if getattr(recv.func, "attr", getattr(recv.func, "id", None)) == "col":
                return "first-K init"
    if getattr(f, "attr", None) == "norm" and any(k.arg == "keepdims" for k in call.keywords):
        return "GEMM normalisation"
    return None


def hits(node, owner):
    """(kind, owner function, line) of each kernel copy under node."""
    for child in ast.iter_child_nodes(node):
        inner = child.name if isinstance(child, (ast.FunctionDef, ast.AsyncFunctionDef)) else owner
        if isinstance(child, ast.Call) and kind(child):
            yield kind(child), owner, child.lineno
        yield from hits(child, inner)


bad = []
for root, dirs, files in os.walk("."):
    dirs[:] = sorted(d for d in dirs if not d.startswith((".", "__")))
    for f in sorted(files):
        if f.endswith(".py"):
            p = os.path.join(root, f)
            tree = ast.parse(open(p, encoding="utf-8").read(), p)
            bad += [
                f"{k}: {p}:{line} in {owner}"
                for k, owner, line in hits(tree, None)
                if (p, owner) != SITES[k]
            ]
if bad:
    sys.exit("a quantizer kernel step outside its kernel (quantize.first_k, dedup._unit):\n" + "\n".join(bad))
print("quantizer kernel guard OK")
EOF

# one on-disk cache: a build is keyed by its input stamps and the
# source stamp inside cache.ensure_cached_build, so a module-level
# ``*_VERSION = "v..."`` string constant (a hand-bumped cache key) in
# the package fails, and so does a tempfile.gettempdir( / mkdtemp(
# call outside cache.py (a hand-rolled disk cache)
python - <<'EOF'
import ast, os, sys

PKG = "dynamodb_streaming_datalake_spark"
CACHE = os.path.join(PKG, "cache.py")


def version_constant(n):
    """The name of a module-level ``*_VERSION = "v..."`` assignment."""
    targets = n.targets if isinstance(n, ast.Assign) else [getattr(n, "target", None)]
    v = getattr(n, "value", None)
    if isinstance(v, ast.Constant) and isinstance(v.value, str) and v.value.startswith("v"):
        for t in targets:
            if isinstance(t, ast.Name) and t.id.endswith("_VERSION"):
                return t.id
    return None


def called(n):
    """The function name of a call node (``f(`` or ``mod.f(``)."""
    if isinstance(n, ast.Call):
        return getattr(n.func, "attr", getattr(n.func, "id", None))
    return None


bad = []
for root, dirs, files in os.walk(PKG):
    dirs[:] = sorted(d for d in dirs if not d.startswith((".", "__")))
    for f in sorted(files):
        if not f.endswith(".py"):
            continue
        p = os.path.join(root, f)
        tree = ast.parse(open(p, encoding="utf-8").read(), p)
        bad += [f"{p}:{n.lineno} {version_constant(n)}" for n in tree.body if version_constant(n)]
        if p != CACHE:
            bad += [
                f"{p}:{n.lineno} {called(n)}("
                for n in ast.walk(tree)
                if called(n) in ("gettempdir", "mkdtemp")
            ]
if bad:
    sys.exit("a hand-rolled on-disk cache outside cache.ensure_cached_build:\n" + "\n".join(bad))
print("one-disk-cache guard OK")
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
