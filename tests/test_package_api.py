"""The package's public surface, checked without a Spark session.

1. The lazy top-level API map: every name must resolve, so a deleted or
   renamed module cannot leave a dangling entry (importing a module never
   starts a session).
2. Reachability: every top-level def of the package must be reached from
   code that runs outside the tests — the driver entry, the benchmarks,
   the jobs and tools, or the package's own module-level code. The scan is
   pure AST: it follows imports, `module.attr` chains and bare names from
   those roots, then the names inside each def it reaches. A def that only
   tests call is either deleted or listed in ALLOWED with its reason.
"""

import ast
import importlib
from pathlib import Path

import pytest

import extractors_geo_spark as pkg

REPO = Path(__file__).resolve().parents[1]
PKG = "extractors_geo_spark"

# Top-level package defs that no non-test root reaches, kept on purpose.
# An allowlisted def is a root too, so what it calls needs no entry.
_ORACLE = "numpy oracle the Spark expression is checked against in tests"
_FIXTURE = "fixture writer: builds the test inputs the readers decode"
_READER = "vector reader entry point: test_shapefile/test_geojson/test_geopackage goldens check the readers through it"
ALLOWED = {
    "extractors_geo_spark.__getattr__": "lazy-API hook: Python calls it on a missing attribute, never by name",
    "extractors_geo_spark.sources.snapshot_table.SnapshotTable": "ROADMAP item 2 gives it a job on the resume path or deletes it (with its fs.py helpers and catalog.upsert/delete)",
    "extractors_geo_spark.operators.knn.knn_coverage": "ROADMAP item 8 reports under-filled kNN queries through it",
    "extractors_geo_spark.plans.planner.salt_factor": "ROADMAP item 11 measures the engine's salting against AQE's skew join",
    "extractors_geo_spark.operators.similarity.near_dup_pairs": "the LSH-blocked form of the driver's exact embedding_dedup pairs; ROADMAP item 15 gives it a caller or deletes it",
    "extractors_geo_spark.operators.cells.cell_np": _ORACLE,
    "extractors_geo_spark.operators.cells.cell_decode_np": _ORACLE,
    "extractors_geo_spark.operators.cells.cell_bounds_np": _ORACLE,
    "extractors_geo_spark.functions.geo.params_forward_np": _ORACLE,
    "extractors_geo_spark.functions.geo.point_in_ring_np": _ORACLE,
    "extractors_geo_spark.png.decode": "oracle the tile PNG bytes are decoded with in test_tiles",
    "extractors_geo_spark.mp4.write_fragmented_mp4": _FIXTURE,
    "extractors_geo_spark.mp4.write_raw_mp4": _FIXTURE,
    "extractors_geo_spark.sources.sevenzip.write_7z": _FIXTURE,
    "extractors_geo_spark.sources.shapefile.ingest_zips": _READER,
    "extractors_geo_spark.sources.shapefile.ingest_zip_dir": _READER,
    "extractors_geo_spark.sources.geojson.ingest_geojson": _READER,
    "extractors_geo_spark.sources.geojson.ingest_geojson_dir": _READER,
    "extractors_geo_spark.sources.geopackage.ingest_gpkg": _READER,
    "extractors_geo_spark.sources.geopackage.ingest_gpkg_dir": _READER,
}


@pytest.mark.parametrize("name", sorted(pkg._API))
def test_api_name_resolves(name):
    mod_name, attr = pkg._API[name]
    mod = importlib.import_module(mod_name)
    assert attr is None or hasattr(mod, attr), f"{mod_name} has no {attr}"
    assert getattr(pkg, name) is (getattr(mod, attr) if attr else mod)


# ------------------------------------------------------------ reachability
def _modname(path: Path) -> str:
    parts = list(path.relative_to(REPO).with_suffix("").parts)
    return ".".join(parts[:-1] if parts[-1] == "__init__" else parts)


def _root_files() -> list[Path]:
    files = [REPO / "__spark_entry__.py", *REPO.glob("bench*.py")]
    for d in ("jobs", "tools", "perfbench"):
        files += [p for p in (REPO / d).rglob("*.py")
                  if "tests" not in p.relative_to(REPO).parts]
    return files


class _Scan:
    """Top-level defs of every package module and the defs each AST
    subtree names, resolved through that file's imports."""

    def __init__(self):
        paths = {_modname(p): p for p in (REPO / PKG).rglob("*.py")}
        self.trees = {m: ast.parse(p.read_text()) for m, p in paths.items()}
        self.is_pkg = {m: p.name == "__init__.py" for m, p in paths.items()}
        self.defs = {
            m: {n.name: n for n in t.body
                if isinstance(n, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef))}
            for m, t in self.trees.items()}
        self.api = next(ast.literal_eval(n.value) for n in self.trees[PKG].body
                        if isinstance(n, ast.Assign)
                        and any(getattr(t, "id", None) == "_API" for t in n.targets))

    def attr(self, mod: str, name: str):
        """What `mod.name` is: ("mod", module), ("def", (module, name)) or None."""
        if f"{mod}.{name}" in self.trees:
            return ("mod", f"{mod}.{name}")
        if name in self.defs.get(mod, {}):
            return ("def", (mod, name))
        if mod == PKG and name in self.api:
            target, attr = self.api[name]
            return ("mod", target) if attr is None else self.attr(target, attr)
        return None

    def bindings(self, tree: ast.Module, module: str, is_pkg: bool) -> dict:
        """Local name -> target, from every import in the file (function-
        local imports included) and the module's own top-level defs."""
        out = {}
        for node in ast.walk(tree):
            if isinstance(node, ast.Import):
                for a in node.names:
                    if a.asname and a.name in self.trees:
                        out[a.asname] = ("mod", a.name)
                    elif not a.asname and a.name.split(".")[0] == PKG:
                        out[PKG] = ("mod", PKG)
            elif isinstance(node, ast.ImportFrom):
                src = node.module or ""
                if node.level:
                    base = module.split(".")[: None if is_pkg else -1]
                    base = base[: len(base) - node.level + 1]
                    src = ".".join(base + ([src] if src else []))
                if src in self.trees:
                    for a in node.names:
                        target = self.attr(src, a.name)
                        if target:
                            out[a.asname or a.name] = target
        for name in self.defs.get(module, {}):
            out.setdefault(name, ("def", (module, name)))
        return out

    def names(self, nodes, binds: dict) -> set:
        """The package defs these subtrees name, bare or as a module.attr chain."""
        found = set()
        for node in (n for root in nodes for n in ast.walk(root)):
            if isinstance(node, ast.Name):
                target = binds.get(node.id)
            elif isinstance(node, ast.Attribute):
                chain, base = [], node
                while isinstance(base, ast.Attribute):
                    chain.append(base.attr)
                    base = base.value
                target = binds.get(base.id) if isinstance(base, ast.Name) else None
                for attr in reversed(chain):
                    if not target or target[0] != "mod":
                        break
                    target = self.attr(target[1], attr)
            else:
                continue
            if target and target[0] == "def":
                found.add(target[1])
        return found

    def reached(self, extra_roots=()) -> set:
        binds = {m: self.bindings(t, m, self.is_pkg[m]) for m, t in self.trees.items()}
        work = list(extra_roots)
        for path in _root_files():
            tree = ast.parse(path.read_text())
            work += self.names([tree], self.bindings(tree, _modname(path), False))
        for m, tree in self.trees.items():
            module_level = []
            for node in tree.body:
                if isinstance(node, ast.ClassDef):
                    module_level += node.decorator_list
                elif isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
                    module_level += node.decorator_list + node.args.defaults
                    module_level += [d for d in node.args.kw_defaults if d is not None]
                else:
                    module_level.append(node)
            work += self.names(module_level, binds[m])
        seen = set()
        while work:
            d = work.pop()
            if d not in seen and d[1] in self.defs.get(d[0], {}):
                seen.add(d)
                work += self.names([self.defs[d[0]][d[1]]], binds[d[0]])
        return seen


scan = _Scan()


def _split(name: str):
    mod, _, attr = name.rpartition(".")
    return mod, attr


def test_every_package_def_has_a_non_test_caller():
    """A def no query, job, tool or benchmark reaches is dead weight that
    only its own tests keep alive: delete it with them, give it a caller,
    or list it in ALLOWED with the reason it stays."""
    reached = scan.reached(extra_roots=[_split(n) for n in ALLOWED])
    unreached = sorted(f"{m}.{n} ({node.end_lineno - node.lineno + 1} lines)"
                       for m, ds in scan.defs.items() for n, node in ds.items()
                       if (m, n) not in reached)
    assert not unreached, "package defs no non-test root reaches:\n" + "\n".join(unreached)


def test_allowlist_names_only_unreached_defs():
    """Each ALLOWED entry names a def that exists and that no non-test
    root reaches; an entry whose def got a caller or was deleted goes."""
    reached = scan.reached()
    for name in ALLOWED:
        mod, attr = _split(name)
        assert attr in scan.defs.get(mod, {}), f"{name} is not a top-level package def"
        assert (mod, attr) not in reached, f"{name} has a non-test caller: drop it from ALLOWED"
