"""Registry-wide physical-plan audit — the 100 TB discipline as CI.

Two invariants every registered query must hold, regardless of what it
computes:

- NO CartesianProduct: the module contract ("never an O(n²) cross join")
  enforced mechanically. Scalar broadcasts compile to
  BroadcastNestedLoopJoin over 1-row sides, which is fine and distinct.
- NO BatchEvalPython: row-at-a-time Python UDFs are banned from every
  plan; Python is only ever Arrow-batched (ArrowEvalPython /
  MapInPandas / FlatMapGroupsInPandas), which the audit permits.

Plus a codegen floor: the named heavy queries must contain WholeStageCodegen
spans (the hot path stays JVM-side), and a size guard: the registry fits
the driver's 50-entry correctness window.

Planning only — queries are analyzed and physically planned at the smoke
SF, not executed (construction-time driver work like sink writes still
runs, which is what the registry queries do under the driver anyway).
"""

from __future__ import annotations

import os

import pytest

SF_DIR = os.environ.get("SPARK_GRAFT_AUDIT_SF", "/root/testdata/sf0.001")

_CODEGEN_REQUIRED = [
    "pricing_summary", "dim_join_rollup", "topk_per_group",
    "dedup_policies", "minhash_neardup", "simhash_neardup", "ann_topk",
    "embedding_neardup", "fingerprint_dedup", "text_metrics",
    "proximity_join", "url_priority_rank",
]


def _registry():
    import __spark_entry__ as entry

    return entry.queries()


def test_registry_fits_driver_correctness_window():
    # the driver's correctness gate checks only the first 50 registry
    # entries; a query registered past that window is never certified
    n = len(_registry())
    assert n <= 50, (
        f"{n} registry entries: the driver's correctness gate checks only "
        f"the first 50, so entries 51-{n} would never be certified; fold "
        "new kernels into an existing tagged-union composite instead"
    )


@pytest.fixture(scope="module")
def plans(spark):
    out = {}
    for name, fn in _registry().items():
        df = fn(spark, SF_DIR)
        out[name] = df._jdf.queryExecution().executedPlan().toString()
    return out


def test_no_cartesian_product_anywhere(plans):
    bad = [n for n, p in plans.items() if "CartesianProduct" in p]
    assert not bad, f"CartesianProduct in: {bad}"


def test_no_row_at_a_time_python_anywhere(plans):
    bad = [n for n, p in plans.items() if "BatchEvalPython" in p]
    assert not bad, f"row-at-a-time Python UDF in: {bad}"


def test_sketch_arms_probe_once(plans):
    # anti_join_seen's bloom and cuckoo arms each probe their sketch in
    # one MapInPandas; the exact verify join must not re-plan the probe
    assert plans["anti_join_seen"].count("MapInPandas") == 2


def test_driver_rows_plan_as_local_relation(spark):
    # local_df keeps the schema exactly (nullability and nested structs
    # included) and plans as a LocalRelation, so no Python worker
    # deserializes the rows
    from web_crawler_spark.plans.crawl import DELTA_SCHEMA, FRONTIER_SCHEMA
    from web_crawler_spark.schemas import ROBOTS
    from web_crawler_spark.session import local_df

    cases = [
        ([("https://a.example/x", "a.example", 0, 0, 0, None, "queued", None, None),
          ("https://b.example/", "b.example", 1, 5, 2, "https://b.example/p",
           "visited", 3, 9)], FRONTIER_SCHEMA),
        ([], DELTA_SCHEMA),
        ([("a.example", 3), ("b.example", 0)], "seed_host string, remaining int"),
        ([([(0, [1.0, 2.0], 2.5), (1, [0.0, 1.0], 1.0)],)],
         "_cb array<struct<i:int, ce:array<double>, cn:double>>"),
        ([([[(0, [1.0]), (1, [2.0])], [(0, [3.0]), (1, [4.0])]],)],
         "_pcb array<array<struct<j:int, ce:array<double>>>>"),
        ([{"host": "h.example", "fetch_ok": True, "crawl_delay_s": 0.5,
           "disallow_prefixes": ["/admin"]}], ROBOTS),
    ]
    for rows, schema in cases:
        want = spark.createDataFrame(rows, schema)
        got = local_df(spark, rows, schema)
        assert got.schema == want.schema
        assert got.collect() == want.collect()
        plan = got._jdf.queryExecution().optimizedPlan().toString()
        assert plan.startswith("LocalRelation"), plan


def test_create_dataframe_only_inside_local_df():
    # every driver-built table in the package, the jobs and the tools goes
    # through local_df; createDataFrame over a Python list plans as an RDD
    # scan that starts Python workers on every execution
    import re

    root = os.path.dirname(os.path.dirname(__file__))
    hits = []
    for top in ("web_crawler_spark", "jobs", "tools"):
        for dirpath, _, names in os.walk(os.path.join(root, top)):
            for name in names:
                if name.endswith(".py"):
                    path = os.path.join(dirpath, name)
                    with open(path) as fh:
                        for i, line in enumerate(fh, 1):
                            if re.search(r"\bcreateDataFrame\(", line):
                                hits.append((os.path.relpath(path, root), i, line.strip()))
    assert [p for p, _, _ in hits] == [os.path.join("web_crawler_spark", "session.py")], hits



# Package defs that no program reaches but that stay: each is the one
# implementation of a SURVEY §2 operator, checked by pytest only and
# labelled "pytest" in COVERAGE.md's Query column.
_PYTEST_ONLY = {
    # WET/WARC crawl-archive ingestion: the plain-text WET scale path
    "web_crawler_spark.sources.warc:read_wet",
    # WET/WARC crawl-archive ingestion: the ranged-read seam a CDX fetch
    # plan drives (one member per planned offset)
    "web_crawler_spark.sources.warc:read_members_at",
    # J1 frontier anti-join: deleting revisit-eligible URLs from the cuckoo
    "web_crawler_spark.operators.seen_filter:delete_from_cuckoo",
    # HyperLogLog distinct-count sketch: the cross-wave register merge
    "web_crawler_spark.operators.sketch:hll_merge",
    # ANN IVF-flat top-k: the codebook quality measure
    "web_crawler_spark.operators.similarity:ivf_distortion",
    # S8 CSV bulk source
    "web_crawler_spark.sources.bulk:read_bulk_csv",
}
_PROGRAMS = ("jobs", "tools", "perfbench", "bench.py", "__spark_entry__.py")


def _modules(root: str) -> dict:
    """{module name: (tree, top-level defs, import aliases)} for the package
    and every program file."""
    import ast

    out = {}
    for top in ("web_crawler_spark",) + _PROGRAMS:
        base = os.path.join(root, top)
        paths = [base] if top.endswith(".py") else [
            os.path.join(d, f) for d, _, fs in os.walk(base) for f in fs
            if f.endswith(".py")
        ]
        for path in paths:
            name = os.path.relpath(path, root)[:-3].replace(os.sep, ".")
            name = name.removesuffix(".__init__")
            pkg = name if path.endswith("__init__.py") else name.rpartition(".")[0]
            with open(path) as fh:
                tree = ast.parse(fh.read())
            defs, aliases = {}, {}
            for node in ast.walk(tree):
                if isinstance(node, ast.Import):
                    for a in node.names:
                        head = a.asname or a.name.split(".")[0]
                        aliases[head] = ("mod", a.name if a.asname else head)
                elif isinstance(node, ast.ImportFrom):
                    src = node.module or ""
                    if node.level:
                        parts = pkg.split(".")[: len(pkg.split(".")) - node.level + 1]
                        src = ".".join(parts + ([src] if src else []))
                    for a in node.names:
                        aliases[a.asname or a.name] = ("attr", src, a.name)
            for node in tree.body:
                if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
                    defs[node.name] = node
                elif isinstance(node, (ast.Assign, ast.AnnAssign)):
                    targets = node.targets if isinstance(node, ast.Assign) else [node.target]
                    if all(isinstance(t, ast.Name) for t in targets):
                        defs.update((t.id, node) for t in targets)
            out[name] = (tree, defs, aliases)
    return out


def _reacher(mods: dict):
    """``reach(todo, seen)``: every package def the AST nodes in ``todo``
    (``(module, node)`` pairs) reach, following name, attribute and
    import-alias references transitively, added to ``seen``."""
    import ast

    def attr(mod, name, depth=0):
        if mod in mods and depth < 8:
            _, defs, aliases = mods[mod]
            if name in defs:
                return ("def", mod, name)
            if name in aliases:
                return alias(aliases[name], depth + 1)
        full = f"{mod}.{name}"
        return ("mod", full) if full in mods else None

    def alias(a, depth=0):
        return ("mod", a[1]) if a[0] == "mod" else attr(a[1], a[2], depth)

    def refs(mod, node):
        _, defs, aliases = mods[mod]

        def lookup(name):
            if name in defs:
                return ("def", mod, name)
            return alias(aliases[name]) if name in aliases else None

        for n in ast.walk(node):
            if isinstance(n, ast.Name):
                hit = lookup(n.id)
                if hit:
                    yield hit
            elif isinstance(n, ast.Attribute):
                chain = []
                while isinstance(n, ast.Attribute):
                    chain.append(n.attr)
                    n = n.value
                hit = lookup(n.id) if isinstance(n, ast.Name) else None
                for a in reversed(chain):
                    if not hit or hit[0] != "mod":
                        break
                    hit = attr(hit[1], a)
                    if hit:
                        yield hit

    def reach(todo, seen):
        seen = set(seen)
        while todo:
            mod, node = todo.pop()
            for hit in refs(mod, node):
                if hit[0] == "def" and hit not in seen:
                    seen.add(hit)
                    todo.append((hit[1], mods[hit[1]][1][hit[2]]))
        return seen

    return reach


def _query_decorator(node):
    """The ``@query(...)`` decorator of a top-level def, or None."""
    import ast

    for dec in getattr(node, "decorator_list", ()):
        f = dec.func if isinstance(dec, ast.Call) else dec
        if isinstance(f, ast.Name) and f.id == "query":
            return dec
    return None


def test_every_package_def_is_reachable_from_a_program():
    # A top-level def, class or constant in the package must be reachable
    # from a program: package module-level code, a @query-registered
    # function, or jobs/, tools/, perfbench/, bench.py, __spark_entry__.py.
    # Name, attribute and import-alias references are followed
    # transitively; a def only tests call is dead weight (or, for a
    # reference implementation, belongs in tests/).
    import ast

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    mods = _modules(root)
    reach = _reacher(mods)
    roots, registered = [], set()
    for mod, (tree, defs, _) in mods.items():
        if not mod.startswith("web_crawler_spark"):
            roots.append((mod, tree))
            continue
        for node in tree.body:
            if node in defs.values():
                if _query_decorator(node):
                    roots.append((mod, node))
                    registered.add(("def", mod, node.name))
            elif not isinstance(node, (ast.Import, ast.ImportFrom)) and not (
                isinstance(node, ast.Expr) and isinstance(node.value, ast.Constant)
            ):
                roots.append((mod, node))
    kept = [tuple(k.split(":")) for k in sorted(_PYTEST_ONLY)]
    from_programs = reach(list(roots), registered)
    seen = reach(roots + [(m, mods[m][1][n]) for m, n in kept], registered)
    dead = sorted(
        f"{mod}:{name}"
        for mod, (_, defs, _) in mods.items() if mod.startswith("web_crawler_spark")
        for name in defs
        if not name.startswith("__") and ("def", mod, name) not in seen
        and f"{mod}:{name}" not in _PYTEST_ONLY
    )
    assert not dead, f"{len(dead)} package defs no program reaches: {dead}"
    # the allowlist names only defs that no program reaches
    live = [f"{m}:{n}" for m, n in kept if ("def", m, n) in from_programs]
    assert not live, f"reachable from a program, drop from _PYTEST_ONLY: {live}"


def test_coverage_queries_reach_their_implementations():
    # A COVERAGE.md row whose Query column names a registry query claims
    # that the query's oracle certifies the row's Implementation. So for
    # every `path.py:def` the Implementation column names, one of the
    # named queries must reach that def (unless the Query column labels it
    # "`def`: pytest"): an arm that restates the def inline certifies a
    # twin, not the code the pipelines run.
    import ast
    import re

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    mods = _modules(root)
    reach = _reacher(mods)
    registry = {}
    for mod, (_, defs, _) in mods.items():
        for node in defs.values():
            dec = _query_decorator(node)
            if dec is not None and isinstance(dec, ast.Call):
                registry[dec.args[0].value] = (mod, node)
    reached = {}
    bad, checked = [], 0
    with open(os.path.join(root, "COVERAGE.md")) as fh:
        for line in fh:
            cells = [c.strip() for c in line.strip().strip("|").split("|")]
            if not line.startswith("|") or len(cells) < 3:
                continue
            named = [q for q in re.findall(r"`(\w+)`", cells[2]) if q in registry]
            impls = re.findall(r"`([\w/]+)\.py:(\w+)`", cells[1])
            pytest_only = set(re.findall(r"`(\w+)`: pytest", cells[2]))
            for path, name in impls if named else ():
                mod = "web_crawler_spark." + path.replace("/", ".")
                if name in pytest_only or name not in mods.get(mod, (None, {}))[1]:
                    continue  # labelled pytest-only, or a method of a class
                checked += 1
                for q in named:
                    if q not in reached:
                        mod_q, node = registry[q]
                        reached[q] = reach([registry[q]], {("def", mod_q, node.name)})
                if not any(("def", mod, name) in reached[q] for q in named):
                    bad.append(f"{cells[0]}: {named} never reach {path}.py:{name}")
    assert checked >= 50, checked  # the parse still finds the table rows
    assert not bad, "\n".join(bad)


def _executed_nodes(spark, df) -> list:
    """The physical operators that run when ``df`` executes: adaptive
    plans and query stages are entered, a reused exchange is not (its
    exchange runs once), and a cached relation's plan is walked once
    however many scans read it."""
    ident = spark._jvm.System.identityHashCode
    cached, nodes = set(), []
    todo = [df._jdf.queryExecution().executedPlan()]
    while todo:
        node = todo.pop()
        nodes.append(node)
        name = node.nodeName()
        if name == "AdaptiveSparkPlan":
            todo.append(node.executedPlan())
        elif name.endswith("QueryStage"):
            todo.append(node.plan())
        elif name == "InMemoryTableScan":
            key = ident(node.relation().cacheBuilder())
            if key not in cached:
                cached.add(key)
                todo.append(node.relation().cachedPlan())
        elif name != "ReusedExchange":
            kids = node.children()
            todo.extend(kids.apply(i) for i in range(kids.size()))
    return nodes


def test_ingest_runs_each_python_pass_once(spark, tmp_path, monkeypatch):
    # the pair table the ingest appends gunzips the archive once (both
    # lanes read one cached member scan) and phashes each pair once, with
    # no join back on image_id (which fanned rows out across hosts that
    # serve the same image path)
    import importlib.util
    import re

    from web_crawler_spark import lake

    spec = importlib.util.spec_from_file_location(
        "ingest_warc_job", os.path.join(os.path.dirname(os.path.dirname(__file__)),
                                        "jobs", "ingest_warc_job.py"))
    job = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(job)
    arc = str(tmp_path / "arc")
    job.synthesize_archive(arc, 2, 3)

    plans = []
    append = lake.SnapshotTable.append

    def capture(self, df, *args, **kwargs):
        plans.append([(n.nodeName(), n.simpleString(100))
                      for n in _executed_nodes(spark, df)])
        return append(self, df, *args, **kwargs)

    monkeypatch.setattr(lake.SnapshotTable, "append", capture)
    job.ingest(spark, arc, str(tmp_path / "pairs"))
    (nodes,) = plans
    python = [s for name, s in nodes if name == "MapInPandas"]
    assert len(python) == 2, python
    assert sum("gunzip(" in s for s in python) == 1, python
    assert sum("append_phash(" in s for s in python) == 1, python
    joins = [s for name, s in nodes if "Join" in name]
    assert not [s for s in joins if re.search(r"\[image_id#", s)], joins


def test_records_pipeline_runs_the_fuzzy_merge_once(spark):
    # attach_payload reads the records twice; both reads scan the one
    # checkpoint of the fuzzy output, so no fuzzy merge is in the plan
    from web_crawler_spark.analytics.queries import _e2e_pages
    from web_crawler_spark.plans.enrich import records_pipeline

    nodes = _executed_nodes(spark, records_pipeline(_e2e_pages(spark)))
    assert not [n for n in nodes if n.nodeName() == "FlatMapGroupsInPandas"]
    merged = [n for n in nodes if n.nodeName().startswith("Scan ExistingRDD")
              and "mergedFrom" in n.output().toString()]
    assert len(merged) == 2
    assert len({n.rdd().id() for n in merged}) == 1


def test_heavy_queries_keep_wholestage_codegen(spark):
    # AQE wraps stages lazily, so an AdaptiveSparkPlan hides codegen
    # labels until execution; whether an operator is codegen-able is
    # AQE-independent, so plan the audit with AQE off and read the spans
    # directly
    reg = _registry()
    missing = []
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        for name in _CODEGEN_REQUIRED:
            df = reg[name](spark, SF_DIR)
            plan = df._jdf.queryExecution().executedPlan().toString()
            # codegen stages print as "*(N) Operator" stars in toString
            if "*(" not in plan:
                missing.append(name)
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", "true")
    assert not missing, f"no WholeStageCodegen span in: {missing}"


def _py4j_round_trips(build) -> int:
    """py4j commands the driver sends the JVM while ``build()`` runs."""
    from py4j.clientserver import ClientServerConnection

    send = ClientServerConnection.send_command
    sent = [0]

    def counting(self, *args, **kwargs):
        sent[0] += 1
        return send(self, *args, **kwargs)

    ClientServerConnection.send_command = counting
    try:
        build()
    finally:
        ClientServerConnection.send_command = send
    return sent[0]


def test_plan_construction_round_trip_budget(spark):
    # building a plan, without collecting it, is driver work that grows
    # with the number of Column calls, not with the data: the sessions run
    # without PySpark's per-call origin capture, and the builders make
    # each column once
    from pyspark.errors.utils import is_debugging_enabled

    from web_crawler_spark.analytics.queries import _e2e_pages
    from web_crawler_spark.images import synthesize_images
    from web_crawler_spark.plans.corpus import build_pair_corpus
    from web_crawler_spark.plans.enrich import records_pipeline

    assert spark.conf.get("spark.python.sql.dataFrameDebugging.enabled") == "false"
    assert not is_debugging_enabled()
    pages = _e2e_pages(spark)
    pairs = synthesize_images(spark, 40)
    # half of what the same builds took with origin capture on and the
    # envelope and bucket literal built column by column (13,562 and
    # 3,748 round trips); they now take about 4,900 and 1,400
    assert _py4j_round_trips(lambda: records_pipeline(pages)) <= 6_781
    assert _py4j_round_trips(lambda: build_pair_corpus(pairs)) <= 1_874


def test_registry_queries_leave_no_scratch_dirs(spark, tmp_path, monkeypatch):
    # each of these queries writes a crawl, a sink or an archive under a
    # new temp dir; the rows they return are materialized first, so the
    # dir must not outlive the call
    import tempfile

    from web_crawler_spark.analytics import queries as Q

    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    for q in (Q.q_crawl_bfs, Q.q_crawl_progress, Q.q_sink_roundtrips,
              Q.q_archive_ingest):
        df = q(spark, SF_DIR)
        assert not list(tmp_path.iterdir()), q.__name__
        assert df.count() > 0, q.__name__
