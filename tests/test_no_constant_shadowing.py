"""Module-level constant redefinitions silently rebind earlier queries'
parameters (Python globals: last assignment wins at import, earlier
functions read the new value at call time). This bit twice in the
queries monolith (`_B` bootstrap replicates; `_EMB_DIM` 4 -> 64). The
round-3 package split scopes globals per module, which removes the
rebinding hazard WITHIN the registry — but query modules import each
other's helpers by name (`from .dedup_sim import _STOPWORD_SQL_LIST`), so a
name defined in two modules would make it depend on the import which
definition a query gets; the guard stays strict across the whole
package. Fail at test time instead of at the correctness gate."""

import ast
import glob


def _modules():
    for path in sorted(glob.glob("pliers_spark/queries/*.py")):
        yield path, ast.parse(open(path).read())


def test_no_duplicate_module_constants():
    seen = {}
    dups = []
    for path, tree in _modules():
        for node in tree.body:  # module level only — function bodies are fine
            targets = []
            if isinstance(node, ast.Assign):
                targets = [t for t in node.targets if isinstance(t, ast.Name)]
            elif isinstance(node, ast.AnnAssign) and isinstance(node.target, ast.Name):
                targets = [node.target]
            for t in targets:
                key = t.id
                if key in seen:
                    dups.append((key, seen[key], f"{path}:{node.lineno}"))
                else:
                    seen[key] = f"{path}:{node.lineno}"
    assert not dups, f"package-level names assigned twice: {dups}"


def test_no_duplicate_query_function_names():
    """Two `def q_foo` with the same name would shadow silently (the
    @query decorator already guards the registry NAME, but a reused
    function name makes a by-name import of either ambiguous)."""
    seen = {}
    dups = []
    for path, tree in _modules():
        for node in tree.body:
            if isinstance(node, ast.FunctionDef):
                if node.name in seen:
                    dups.append((node.name, seen[node.name], f"{path}:{node.lineno}"))
                else:
                    seen[node.name] = f"{path}:{node.lineno}"
    assert not dups, f"module-level functions defined twice: {dups}"
