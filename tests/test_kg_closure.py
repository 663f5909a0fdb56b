"""Import closure of the knowledge-graph path, walked statically (no
Spark, nothing imported): the package modules reachable from the batch
build, the streaming ingest query, the public API and the kernel's
pure-Python reference.

The list below is the whole closure.  A module joining it (an operator
import sneaking back into the KG path, say through a lazy
function-level import) or leaving it must be a deliberate edit here.

Every other package module must be reached from the driver contract
(`__spark_entry__.py`) or be a declared reference twin, so retiring
driver entries cannot leave a dead module behind."""

import ast
from pathlib import Path

PKG = "python_mecab_ner_spark"
REPO = Path(__file__).resolve().parent.parent
PKG_DIR = REPO / PKG

ROOTS = ("plans.pipeline", "streaming.ingest", "api", "kernel.pyref")

KG_CLOSURE = {
    "api",
    "functions.hashing",
    "kernel.jamo",
    "kernel.lexicon",
    "kernel.matcher",
    "kernel.pyref",
    "kernel.stats",
    "kernel.tokenizer",
    "kernel.triples",
    "operators.annotate",
    "operators.canonicalize",
    "operators.graph",
    "operators.linking",
    "operators.schemas",
    "operators.weblinks",
    "plans.lineage",
    "plans.pipeline",
    "sources.gazetteer",
    "streaming.ingest",
}

# Kept although no import reaches them: kernel.bio is the pure-Python
# twin that tests check operators/bio.py against, and
# kernel.tagger_adapter is the real-MeCab seam a caller hands to
# annotate_pages(tokenizer=...).
REFERENCE_TWINS = {"kernel.bio", "kernel.tagger_adapter"}


def _is_module(mod: str) -> bool:
    """A package-relative dotted name that is a .py module (a package's
    __init__ holds no KG code and is not counted)."""
    return PKG_DIR.joinpath(*mod.split(".")).with_suffix(".py").exists()


def _imports(mod: str, src: Path | None = None) -> set[str]:
    """Package modules `mod` imports anywhere in its body: relative and
    absolute, module-level and inside functions; `from X import sub`
    counts the submodule X.sub when sub is one.  `src` reads a file
    outside the package instead (absolute imports only)."""
    src = src or PKG_DIR.joinpath(*mod.split(".")).with_suffix(".py")
    parent = mod.split(".")[:-1]
    names = []
    for node in ast.walk(ast.parse(src.read_text(), str(src))):
        if isinstance(node, ast.Import):
            names += [a.name[len(PKG) + 1:] for a in node.names
                      if a.name.startswith(PKG + ".")]
        elif isinstance(node, ast.ImportFrom):
            if node.level:
                base = parent[:len(parent) - node.level + 1]
                target = ".".join(base + [node.module or ""]).strip(".")
            elif (node.module or "").startswith(PKG):
                target = node.module[len(PKG) + 1:]
            else:
                continue
            names += [target] + [f"{target}.{a.name}".lstrip(".")
                                 for a in node.names]
    return {n for n in names if n and _is_module(n)}


def _closure(roots) -> set[str]:
    seen, todo = set(), list(roots)
    while todo:
        mod = todo.pop()
        if mod not in seen:
            seen.add(mod)
            todo.extend(_imports(mod))
    return seen


def test_kg_closure_is_the_declared_list():
    # linking reaches kernel.jamo only through a function-level import
    assert "kernel.jamo" in _imports("operators.linking")
    assert _closure(ROOTS) == KG_CLOSURE


def test_every_module_is_reached():
    """A module nothing reaches is dead code: delete it with the last
    driver entry that used it."""
    driver = _imports("__spark_entry__", REPO / "__spark_entry__.py")
    reached = _closure(ROOTS) | _closure(driver) | REFERENCE_TWINS
    modules = {".".join(p.relative_to(PKG_DIR).with_suffix("").parts)
               for p in PKG_DIR.rglob("*.py") if p.name != "__init__.py"}
    assert modules - reached == set()


# Where package code may be used from: the package itself,
# `__spark_entry__.py`, the benchmarks, the scripts and the tests.
USERS = (PKG_DIR, REPO / "__spark_entry__.py", REPO / "bench.py",
         REPO / "scripts", REPO / "kgbench", REPO / "tests")


def _py_files(*places):
    for p in places:
        yield from sorted(p.rglob("*.py")) if p.is_dir() else [p]


def _uses(node) -> set[str]:
    """Identifiers `node` reads: names, attributes and imported names."""
    out = set()
    for n in ast.walk(node):
        if isinstance(n, ast.Name) and isinstance(n.ctx, ast.Load):
            out.add(n.id)
        elif isinstance(n, ast.Attribute):
            out.add(n.attr)
        elif isinstance(n, ast.alias):
            out.add(n.name.rsplit(".", 1)[-1])
    return out


def test_every_package_definition_is_used():
    """A top-level function or class of the package that nothing names
    outside its own body is dead code: delete it."""
    uses = {}       # (file, top-level index) -> identifiers it reads
    defined = []    # (name, file, top-level index)
    for f in _py_files(*USERS):
        body = ast.parse(f.read_text(), str(f)).body
        for i, node in enumerate(body):
            uses[f, i] = _uses(node)
            if f.is_relative_to(PKG_DIR) and isinstance(
                    node, (ast.FunctionDef, ast.ClassDef)):
                defined.append((node.name, f, i))
    unused = [f"{f.relative_to(REPO)}:{name}" for name, f, i in defined
              if not any(name in u for k, u in uses.items() if k != (f, i))]
    assert unused == []


def _top_level_names(path: Path) -> set[str]:
    """Names a module binds at top level, plus its submodules when it
    is a package's __init__."""
    names = ({p.stem for p in path.parent.glob("*.py")}
             | {d.name for d in path.parent.iterdir() if d.is_dir()}
             if path.name == "__init__.py" else set())
    for node in ast.parse(path.read_text(), str(path)).body:
        if isinstance(node, (ast.FunctionDef, ast.ClassDef)):
            names.add(node.name)
        elif isinstance(node, (ast.Import, ast.ImportFrom)):
            names |= {(a.asname or a.name).split(".")[0]
                      for a in node.names}
        elif isinstance(node, (ast.Assign, ast.AnnAssign)):
            targets = (node.targets if isinstance(node, ast.Assign)
                       else [node.target])
            names |= {n.id for t in targets for n in ast.walk(t)
                      if isinstance(n, ast.Name)}
    return names


def test_package_imports_resolve():
    """Every `from python_mecab_ner_spark.X import name` outside the
    package, module-level or inside a function, names something X
    defines: a lazy import of a deleted operator fails here, not only
    when its script runs."""
    bad = []
    for f in _py_files(REPO / "__spark_entry__.py", REPO / "bench.py",
                       REPO / "scripts", REPO / "kgbench"):
        for node in ast.walk(ast.parse(f.read_text(), str(f))):
            if not (isinstance(node, ast.ImportFrom) and not node.level
                    and (node.module or "").split(".")[0] == PKG):
                continue
            target = REPO.joinpath(*node.module.split("."))
            path = (target / "__init__.py" if target.is_dir()
                    else target.with_suffix(".py"))
            have = _top_level_names(path) if path.exists() else set()
            bad += [f"{f.relative_to(REPO)}:{node.lineno} {node.module}"
                    f".{a.name}" for a in node.names if a.name not in have]
    assert bad == []
