"""Driver-contract guards: entry() smoke, queries/oracle key consistency."""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entrymod


def test_queries_and_oracles_consistent():
    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    assert qs, "queries() must not be empty"
    # every oracle belongs to a query
    assert set(oracles) <= set(qs)
    # the SQL-expressible core is oracled
    for name in (
        "classify", "dict_match",
        "vitals_fields",
        "ngram_jaccard", "ann_cosine", "embed_near_dup", "sessionize",
        "lang_id", "sentences",
        "simhash", "dedup_keepers", "classify_segments",
        "minhash_lsh", "dedup_keepers_minhash", "winnow_overlap",
        "greedy_decode", "beam_replace", "deid_spans", "deid_mask",
        "repetition_stats", "bpe_train", "embed_keepers", "lm_heldout",
        # round-6 rotation (VERDICT r05 #1): the twelve born-overflow
        # round-5 oracles now IN the dict (the displaced siblings still
        # in QUERIES — fusion, sections, urgency, measurements,
        # text_stats, cer, events_hourly — keep replaying via
        # DRIVER_CAP_OVERFLOW)
        "fuzzy_ratio", "bpe_encode", "dup_spans", "contamination",
        "mixture_plan", "approx_distinct", "bloom_probe", "count_min",
        "curation_funnel", "char_entropy", "token_quantiles",
        "difflib_match",
    ):
        assert name in oracles, name
    # displaced entries stay oracle-paired in QUERIES (replayed by
    # tools/check_oracles.py) even though the driver dict holds them out
    from htep_spark.driver_queries import QUERIES

    for name in entrymod.DRIVER_CAP_OVERFLOW:
        assert name in QUERIES and QUERIES[name][1] is not None, name
    # rows-only operators present (beam_decode/deid folded into the
    # beam_replace / deid_spans+deid_mask oracles in round 4)
    for name in (
        "extract_full", "block_parse", "conv_rollup",
        "ann_lsh", "ann_ivf", "conv_metrics", "paragraph_decode",
    ):
        assert name in qs
    # the driver records at most 50 query rows (CORRECTNESS_r03 recorded 50
    # of 51) — keep the inventory within that so every entry gets a row
    assert len(qs) <= 50, f"{len(qs)} queries() keys; driver caps at 50"


def test_entry_smoke(spark):
    df = entrymod.entry(spark)
    rows = df.limit(5).collect()
    assert len(rows) > 0
    assert {"conv_id", "turn_idx", "document_type", "urgency"} <= set(df.columns)


def test_flagship_finds_clinical_content(spark):
    from pyspark.sql import functions as F

    df = entrymod._flagship(spark, "/root/testdata/sf0.001")
    hits = df.filter(F.length("matched_drugs") > 0).count()
    assert hits > 0  # clinical prelude guarantees non-vacuous extraction


def test_all_driver_queries_canonicalizer_safe(spark):
    """The driver sorts+hashes results with pandas, which cannot hash list
    cells — every driver-facing query must emit only atomic column types.

    Schema-only (lazy plan build), so this covers all queries cheaply.
    Overflow oracles (DRIVER_CAP_OVERFLOW) are included: they may rotate
    into the driver dict in a future round and must already be safe."""
    from pyspark.sql.types import ArrayType, MapType, StructType

    from htep_spark.driver_queries import QUERIES

    surface = dict(entrymod.queries())
    for name in entrymod.DRIVER_CAP_OVERFLOW:
        surface[name] = QUERIES[name][0]
    for name, fn in surface.items():
        df = fn(spark, "/root/testdata/sf0.001")
        for f in df.schema.fields:
            assert not isinstance(f.dataType, (ArrayType, MapType, StructType)), (
                f"{name}.{f.name} has non-atomic type {f.dataType.simpleString()}"
            )


def test_scalar_field_query_matches_kernel(spark):
    """`extract_fields_scalar`'s lookahead-free relational rewrites must
    agree field-for-field with the Python kernel's lookahead-bounded
    patterns (`extract_regex_fields`) on every PII-prelude document —
    the equivalence proof VERDICT r02 #6 asked for."""
    from htep_spark.driver_queries import PII_SNIPPETS, q_extract_fields_scalar
    from htep_spark.functions.extract_fields import extract_regex_fields

    sf_dir = "/root/testdata/sf0.001"
    rows = {r["doc_id"]: r for r in q_extract_fields_scalar(spark, sf_dir).collect()}
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "text"
    ).collect()
    assert len(rows) == len(docs)
    fired = set()
    for d in docs:
        ctext = PII_SNIPPETS[d["doc_id"] % len(PII_SNIPPETS)] + "\n" + d["text"]
        want = extract_regex_fields(ctext)
        got = rows[d["doc_id"]]
        assert got["date_found"] == want["date"], d["doc_id"]
        assert got["patient_name"] == want["patient_name"], d["doc_id"]
        assert got["doctor_name"] == want["doctor_name"], d["doc_id"]
        assert got["hospital"] == want["hospital"], d["doc_id"]
        assert got["gender"] == want["gender"], d["doc_id"]
        for k in ("date", "patient_name", "doctor_name", "hospital", "gender"):
            if want[k] is not None:
                fired.add(k)
    # the PII prelude must make every field non-vacuous somewhere
    assert fired == {"date", "patient_name", "doctor_name", "hospital", "gender"}


def test_deid_surface_still_works(spark):
    """`deid` was folded out of queries() in round 4 (its detectors are
    hash-checked by deid_spans/deid_mask) — the combined Spark surface
    itself must keep working: spans of several kinds plus masked text."""
    df = entrymod._deid(spark, "/root/testdata/sf0.001")
    rows = df.collect()
    assert len(rows) > 0
    kinds = {r["kind"] for r in rows if r["kind"] is not None}
    assert {"DATE", "ID", "PHONE"} <= kinds
    assert any(r["masked_text"] and "[" in r["masked_text"] for r in rows)


def test_beam_replace_gate_margin():
    """Cross-engine safety of the beam_replace confidence gates: per-char
    confidences are bitwise-identical in both engines (same integer k →
    `0.35 + k/100.0`), so min-gates can never disagree; the only
    order-sensitive quantity is mean_conf (list_sum vs Python sum, error
    ~1e-13 for <=40 doubles). Assert every word's mean clears the 0.80
    threshold by far more than that on all three corpora."""
    import hashlib
    import re

    import pyarrow.parquet as pq

    from htep_spark.operators.decode import _corrupt_prelude_terms

    cd, cdis, ed = _corrupt_prelude_terms()
    for sf in ("sf0.001", "sf0.01", "sf0.1"):
        tbl = pq.read_table(
            f"/root/testdata/{sf}/documents.parquet", columns=["doc_id", "text"]
        )
        seen: set[str] = set()
        worst = 1.0
        for doc_id, text in zip(
            tbl["doc_id"].to_pylist(), tbl["text"].to_pylist()
        ):
            words = [cd[doc_id % 16], cdis[doc_id % 16], ed[doc_id % 16]]
            words += re.findall("[A-Z]+", text.upper())[:2]
            for w in words:
                if w in seen:
                    continue
                seen.add(w)
                cs = [
                    0.35
                    + (
                        int(
                            hashlib.md5(
                                f"{ch}|{w}|{i}".encode()
                            ).hexdigest()[:15],
                            16,
                        )
                        % 64
                    )
                    / 100.0
                    for i, ch in enumerate(w)
                ]
                worst = min(worst, abs(sum(cs) / len(cs) - 0.80))
        assert worst > 1e-9, f"{sf}: mean-gate margin {worst} too small"


def test_beam_replace_branches_nonvacuous():
    """A green oracle proves nothing for branches that never fire: the
    corrupted-term prelude must make lexicon replacement actually happen
    (both applied and kept-raw outcomes, plus exact hits) in the DuckDB
    side of the oracle at driver scale."""
    import duckdb

    from htep_spark.operators.decode import _sql_beam_replace

    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM "
        "read_parquet('/root/testdata/sf0.01/documents.parquet')"
    )
    q = _sql_beam_replace()
    reasons = dict(
        con.execute(
            f"SELECT coalesce(replacement_reason, '<none>'), count(*) "
            f"FROM ({q}) GROUP BY 1"
        ).fetchall()
    )
    assert reasons.get("low-confidence-lexicon-fallback", 0) > 0
    assert reasons.get("high-confidence-kept-raw", 0) > 0
    exact = con.execute(
        f"SELECT count(*) FROM ({q}) WHERE distance = 0"
    ).fetchone()[0]
    assert exact > 0
    applied = con.execute(
        f"SELECT count(*) FROM ({q}) WHERE replacement_applied = 1"
    ).fetchone()[0]
    assert applied > 0


def test_conv_rollup_keeps_64bit_doc_ids(spark, tmp_path):
    """``conv_rollup`` orders a source's documents by the 64-bit doc_id and
    never narrows it to int: ids past 2^32 (ANSI mode would raise
    CAST_OVERFLOW on an int cast) give the same rows as small ids. The
    offset is a multiple of the clinical-prelude count, so every document
    keeps its prelude."""
    from htep_spark.driver_queries import CLINICAL_SNIPPETS

    texts = [
        "Patient Name : Jane Doe\nDoctor : Dr. Adams",
        "Hospital : St Mary Medical Center",
        "Rx: aspirin daily, follow up in 2 weeks",
        "no clinical content here",
    ]
    docs = [(i, texts[i % len(texts)], f"src-{i % 3}") for i in range(24)]
    offset = len(CLINICAL_SNIPPETS) * 2**32

    def rollup(base):
        sf_dir = tmp_path / f"ids-{base}"
        spark.createDataFrame(
            [(base + i, text, src) for i, text, src in docs],
            "doc_id long, text string, source string",
        ).write.parquet(str(sf_dir / "documents.parquet"))
        rows = entrymod._conv_rollup(spark, str(sf_dir)).collect()
        return sorted(tuple(r) for r in rows)

    assert rollup(offset) == rollup(0)


def test_bench_headline_names_resolve():
    """Every name in bench.py's frozen headline loop resolves: the loop
    indexes ``QUERIES[name]`` with no skip for names missing from its
    ``extra`` dict, so deleting a QUERIES entry the headline times would
    crash the bench. Read through ``ast`` so bench.py is never run."""
    import ast
    from pathlib import Path

    from htep_spark.driver_queries import QUERIES

    tree = ast.parse((Path(__file__).resolve().parents[1] / "bench.py").read_text())
    (extra,) = [
        node.value
        for node in ast.walk(tree)
        if isinstance(node, ast.Assign)
        and [getattr(t, "id", None) for t in node.targets] == ["extra"]
    ]
    extra_names = {k.value for k in extra.keys}
    # the headline loop is the one that looks its callable up in `extra`
    (headline,) = [
        node.iter
        for node in ast.walk(tree)
        if isinstance(node, ast.For)
        and any(
            isinstance(n, ast.Attribute)
            and n.attr == "get"
            and getattr(n.value, "id", None) == "extra"
            for n in ast.walk(node)
        )
    ]
    names = [e.value for e in headline.elts]
    assert len(names) == 16, names
    missing = [n for n in names if n not in extra_names and n not in QUERIES]
    assert not missing, f"bench.py headline names missing from QUERIES: {missing}"


def test_bench_extras_names_resolve():
    """Every name in bench.py's extras loop is in ``QUERIES``: the loop
    indexes ``QUERIES[name]`` with no skip, so a query cut from the
    inventory must leave the tuple with it. Read through ``ast`` so
    bench.py is never run."""
    import ast
    from pathlib import Path

    from htep_spark.driver_queries import QUERIES

    tree = ast.parse((Path(__file__).resolve().parents[1] / "bench.py").read_text())
    # the extras loop is the one that stores into `extra_timings`
    (extras,) = [
        node.iter
        for node in ast.walk(tree)
        if isinstance(node, ast.For)
        and any(
            isinstance(n, ast.Subscript)
            and isinstance(n.ctx, ast.Store)
            and getattr(n.value, "id", None) == "extra_timings"
            for n in ast.walk(node)
        )
    ]
    names = [e.value for e in extras.elts]
    assert names, "bench.py extras loop is empty"
    missing = [n for n in names if n not in QUERIES]
    assert not missing, f"bench.py extras names missing from QUERIES: {missing}"


# htep_spark modules that no entry point imports, each kept on purpose
_KEPT_WITHOUT_CONSUMER = {
    "htep_spark.streaming.stream": "the streaming path of the batch/streaming parity",
}


def test_every_module_has_a_consumer():
    """Every htep_spark module is imported, directly or through other
    modules, from a non-test entry point: ``__spark_entry__.py``,
    ``bench.py``, ``perfbench/*.py`` or ``tools/*.py``. The walk reads
    every ``import`` statement through ``ast``, function-local ones
    included, so a module only tests reach fails here."""
    import ast
    from pathlib import Path

    root = Path(__file__).resolve().parents[1]
    files = {}  # dotted module name -> source file
    for path in root.glob("htep_spark/**/*.py"):
        parts = path.relative_to(root).with_suffix("").parts
        files[".".join(parts[:-1] if parts[-1] == "__init__" else parts)] = path
    # scripts import root modules and their own siblings by bare name
    scripts = [*root.glob("perfbench/*.py"), *root.glob("tools/*.py")]
    for path in [*root.glob("*.py"), *scripts]:
        files.setdefault(path.stem, path)
    entries = ["__spark_entry__", "bench", *(p.stem for p in scripts)]

    def imports(name):
        path = files[name]
        is_package = path.name == "__init__.py"
        for node in ast.walk(ast.parse(path.read_text())):
            if isinstance(node, ast.Import):
                yield from (a.name for a in node.names)
            elif isinstance(node, ast.ImportFrom):
                base = node.module or ""
                if node.level:
                    package = name.split(".")
                    package = package[: len(package) - node.level + is_package]
                    base = ".".join(package + ([base] if base else []))
                yield base
                yield from (f"{base}.{a.name}" for a in node.names)

    def reach(starts):
        reached, todo = set(), list(starts)
        while todo:
            name = todo.pop()
            if name in reached:
                continue
            reached.add(name)
            parts = name.split(".")
            # importing a module runs its parent packages too
            parents = [".".join(parts[:i]) for i in range(1, len(parts))]
            todo += [n for n in [*parents, *imports(name)] if n in files]
        return reached

    kept = list(_KEPT_WITHOUT_CONSUMER)
    modules = {n for n in files if n.startswith("htep_spark")}
    assert modules - reach(entries + kept) == set(), (
        "htep_spark modules no entry point imports: give each a consumer or delete it"
    )
    # the allowlist names only modules that still lack a consumer
    assert reach(entries) & set(kept) == set()


# top-level names no entry point reaches, each a reference or fixture that
# tests use
_NAMES_KEPT_WITHOUT_CONSUMER = {
    "htep_spark.functions.textops.fusion_correct":
        "reference of the source's T1 fusion rule; `fusion` is its JVM form",
    "htep_spark.functions.deid.split_sentences":
        "reference splitter sharing SENTENCE_PATTERN with the `sentences` query",
    "htep_spark.functions.fuzzy.extract_one":
        "one-shot rapidfuzz extractOne reference over FuzzyMatcher",
    "htep_spark.functions.classify.classify_segments":
        "reference of the source's C3 rule; `classify_segments` is its SQL form",
    "htep_spark.sources.io.synthesize_transcripts_pdf":
        "pandas transcript fixture the Spark tests build their frames from",
    "htep_spark.sources.io.write_bucketed_transcripts":
        "bucketed-table writer whose plans the bucketing tests check",
}


def test_every_name_has_a_consumer():
    """Every top-level name an htep_spark module defines is reached from a
    non-test entry point (the files of ``test_every_module_has_a_consumer``).
    Roots are every identifier in the entry files and in each module-level
    statement that runs at import but defines no single name (a tuple
    assign, an ``if``, a call); a reached function, class or assigned
    value adds the identifiers inside it. Names are matched by identifier,
    so a call or attribute anywhere in reached code keeps every definition
    of that name. A function, constant or wrapper only tests call fails
    here."""
    import ast
    from pathlib import Path

    root = Path(__file__).resolve().parents[1]

    def idents(node):
        for n in ast.walk(node):
            if isinstance(n, ast.Name) and not isinstance(n.ctx, ast.Store):
                yield n.id
            elif isinstance(n, ast.Attribute):
                yield n.attr

    def defined(stmt):
        if isinstance(stmt, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
            return stmt.name
        if isinstance(stmt, ast.Assign):
            targets = stmt.targets
        elif isinstance(stmt, ast.AnnAssign):
            targets = [stmt.target]
        else:
            return None
        if len(targets) == 1 and isinstance(targets[0], ast.Name):
            return targets[0].id
        return None

    scripts = [*root.glob("perfbench/*.py"), *root.glob("tools/*.py")]
    roots = set()
    for path in [root / "__spark_entry__.py", root / "bench.py", *scripts]:
        roots.update(idents(ast.parse(path.read_text())))
    definitions = {}  # name -> [(module, statement)]
    for path in sorted(root.glob("htep_spark/**/*.py")):
        module = ".".join(path.relative_to(root).with_suffix("").parts)
        for stmt in ast.parse(path.read_text()).body:
            if isinstance(stmt, (ast.Import, ast.ImportFrom)):
                continue
            name = defined(stmt)
            if name is None or module in _KEPT_WITHOUT_CONSUMER:
                roots.update(idents(stmt))
            elif not (name.startswith("__") and name.endswith("__")):
                definitions.setdefault(name, []).append((module, stmt))

    def reach(starts):
        reached, todo = set(), list(starts)
        while todo:
            name = todo.pop()
            if name not in reached:
                reached.add(name)
                for _, stmt in definitions.get(name, ()):
                    todo.extend(idents(stmt))
        return reached

    qualified = {f"{m}.{n}": n for n, defs in definitions.items() for m, _ in defs}
    kept = {qualified[q] for q in _NAMES_KEPT_WITHOUT_CONSUMER}
    reached = reach(roots | kept)
    unreached = sorted(q for q, name in qualified.items() if name not in reached)
    assert unreached == [], (
        f"htep_spark names no entry point reaches: {unreached}; "
        "give each a consumer or delete it"
    )
    # the allowlist names only definitions that still lack a consumer
    assert reach(roots) & kept == set()
