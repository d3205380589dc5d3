"""Command-line tools — the jena-cmds analog (``python -m jena_spark``).

Reference contract (paths relative to
``/root/reference/jena-cmds/src/main/java``):

| subcommand  | reference command | what it does |
|---|---|---|
| ``riot``       | ``riotcmd/riot.java`` (+ per-syntax wrappers ``ntriples/turtle/trig/rdfxml/nquads.java``) | parse / validate / convert between RDF syntaxes |
| ``arq``        | ``arq/query.java`` / ``jena/sparql.java`` | run a SPARQL query over data files, result-set sinks |
| ``update``     | ``arq/update.java`` posture | run a SPARQL Update over data, write the result graph |
| ``qparse``     | ``arq/qparse.java`` ``--print=op`` | print the query algebra in SSE form |
| ``infer``      | ``riotcmd/infer.java`` + ``jena/RuleMap.java`` | apply a GenericRuleReasoner rule file, emit the closure |
| ``rdfcat``     | ``jena/rdfcat.java`` | concatenate RDF documents into one output |
| ``rdfcompare`` | ``jena/rdfcompare.java`` | graph isomorphism compare, exit status 0/1 |
| ``shacl``      | ``shacl/shacl.java`` (``validate``) | SHACL-core validation report |
| ``stats``      | ``tdb/tdbstats.java`` | per-predicate counts of a dataset |
| ``tdbstats``   | ``tdb/tdbstats.java`` | full stats.opt SSE census (predicates + rdf:type classes) |
| ``tdbbackup``  | ``tdb/tdbbackup.java`` / ``TDBBackup.java`` | gzipped N-Quads backup of a store |
| ``rsparql``    | ``rdfconnection cmds rsparql`` | query a remote SPARQL endpoint over HTTP |
| ``rupdate``    | ``rdfconnection cmds rupdate`` | run an update on a remote endpoint |
| ``load``       | ``tdb/tdbloader.java`` | bulk-load RDF into a parquet store directory |
| ``dumpthrift`` | ``riotcmd/dumpthrift.java`` | decode RDF-Thrift to N-Triples/N-Quads text |
| ``tokens``     | ``riotcmd/printtokens.java`` | print the Turtle lexer token stream |
| ``tdbcompact`` | ``tdb2/tdbcompact.java`` | expire every snapshot of a store but the head |
| ``shacl --parse`` | ``shacl/shacl_parse.java`` | print the compiled shape set |
| ``version``    | ``jena/version.java`` | print the engine version |

Spark posture: every command builds a DataFrame plan and either writes
distributed output (``--out``) or streams rows to stdout via
``toLocalIterator`` (the reference CLIs stream to stdout the same
way). ``--cores``/``--shuffle-partitions`` size the local session;
under ``spark-submit`` the existing session is reused.
"""

from __future__ import annotations

import argparse
import sys

from pyspark.sql import DataFrame, SparkSession


def _spark(args) -> SparkSession:
    from jena_spark.session import get_spark

    return get_spark(
        "jena_spark_cli", cores=args.cores,
        shuffle_partitions=args.shuffle_partitions,
    )


def _read_all(spark: SparkSession, paths: list[str], syntax: str | None) -> DataFrame:
    from jena_spark.sources.languages import read_rdf

    dfs = [read_rdf(spark, p, lang=syntax) for p in paths]
    out = dfs[0]
    for d in dfs[1:]:
        out = out.unionByName(d, allowMissingColumns=True)
    return out


def _emit(df: DataFrame, out: str | None, lang: str | None) -> None:
    """Write distributed when --out is given, else stream N-Triples-ish
    lines to stdout (CmdLangParse's StreamRDF-to-output posture)."""
    from jena_spark.sources.languages import write_rdf
    from jena_spark.sources.ntriples import format_ntriples

    if out:
        write_rdf(df, out, lang=lang)
        return
    quads = "graph" in df.columns
    for row in format_ntriples(df, quads=quads).toLocalIterator():
        sys.stdout.write(row["value"] + "\n")


def _cmd_riot(args) -> int:
    spark = _spark(args)
    df = _read_all(spark, args.files, args.syntax)
    if args.validate:
        # riot --validate: parse only, report the triple count
        print(f"OK: {df.count()} triples")
        return 0
    _emit(df, args.out, args.output)
    return 0


def _dataset_of(args, spark: SparkSession) -> DataFrame:
    """--data files or a --location store (exactly one)."""
    if bool(args.data) == bool(args.location):
        raise SystemExit("provide exactly one of --data / --location")
    if args.location:
        return _read_store(spark, args.location)
    return _read_all(spark, args.data, None)


def _cmd_arq(args) -> int:
    from jena_spark.queries.sparql import sparql_query
    from jena_spark.sources import resultsets as RS

    spark = _spark(args)
    df = _dataset_of(args, spark)
    query = args.query
    if args.query_file:
        with open(args.query_file) as fh:
            query = fh.read()
    if not query:
        raise SystemExit("arq: one of --query / --query-file is required")
    res = sparql_query(df, query)
    if args.out:
        writer = {"csv": RS.write_csv, "tsv": RS.write_tsv,
                  "json": RS.write_json, "xml": RS.write_xml_distributed}
        writer[args.results](res, args.out)
        return 0
    cols = res.columns
    print("\t".join(cols))
    for row in res.toLocalIterator():
        print("\t".join("" if row[c] is None else str(row[c]) for c in cols))
    return 0


def _cmd_update(args) -> int:
    from jena_spark.pipeline.sparql_update import update_sparql

    spark = _spark(args)
    df = _dataset_of(args, spark)
    request = args.request
    if args.update_file:
        with open(args.update_file) as fh:
            request = fh.read()
    if not request:
        raise SystemExit("update: one of --request / --update-file is required")
    out = update_sparql(df, request)
    _emit(out, args.out, None)
    return 0


def _cmd_qparse(args) -> int:
    from jena_spark.queries.sse import query_to_sse

    query = args.query
    if args.query_file:
        with open(args.query_file) as fh:
            query = fh.read()
    if not query:
        raise SystemExit("qparse: one of --query / --query-file is required")
    print(query_to_sse(query))
    return 0


def _cmd_infer(args) -> int:
    from jena_spark.pipeline.rules import _anti, rule_closure
    from jena_spark.terms import TERM_COLS

    spark = _spark(args)
    df = _read_all(spark, args.files, None)
    with open(args.rules) as fh:
        rules = fh.read()
    out = rule_closure(df, rules, max_iter=args.max_iter)
    if args.deductions_only:
        # RuleMap.java's deductions-graph mode: only the derived slice
        out = _anti(out, df.select(*TERM_COLS))
    _emit(out, args.out, None)
    return 0


def _cmd_rdfcat(args) -> int:
    from jena_spark.terms import TERM_COLS

    spark = _spark(args)
    df = _read_all(spark, args.files, None).select(*TERM_COLS)
    _emit(df.dropDuplicates(TERM_COLS), args.out, args.output)
    return 0


def _cmd_rdfdiff(args) -> int:
    """``arq/rdfdiff.java``: print the triples unique to each model
    (bnode-blind term diff — rdfcompare is the isomorphism check)."""
    from jena_spark.sources.ntriples import format_ntriples
    from jena_spark.terms import TERM_COLS

    spark = _spark(args)
    g1 = _read_all(spark, [args.first], None).select(*TERM_COLS)
    g2 = _read_all(spark, [args.second], None).select(*TERM_COLS)
    only1 = g1.exceptAll(g2)
    only2 = g2.exceptAll(g1)
    n1 = n2 = 0
    for row in format_ntriples(only1).toLocalIterator():
        print(f"< {row['value']}")
        n1 += 1
    for row in format_ntriples(only2).toLocalIterator():
        print(f"> {row['value']}")
        n2 += 1
    print(f"models are {'equal' if n1 == n2 == 0 else 'unequal'}")
    return 0 if n1 == n2 == 0 else 1


def _cmd_rdfcompare(args) -> int:
    from jena_spark.queries.isomorphism import isomorphic

    spark = _spark(args)
    g1 = _read_all(spark, [args.first], None)
    g2 = _read_all(spark, [args.second], None)
    same = isomorphic(g1, g2, strict=not args.lenient)
    print("models are equal" if same else "models are unequal")
    return 0 if same else 1


def _print_shapes(shapes_df) -> None:
    """``shacl/shacl_parse.java`` — print the compiled shape set in a
    deterministic text form (shape IRI, targets, per-property path +
    cardinality + sorted constraint keys)."""
    from jena_spark.queries.shacl import parse_shapes

    for ns in sorted(parse_shapes(shapes_df), key=lambda n: n.iri):
        targets = []
        for label, vals in (("class", ns.target_class),
                            ("node", ns.target_node),
                            ("subjectsOf", ns.target_subjects_of),
                            ("objectsOf", ns.target_objects_of)):
            names = sorted(v[1] if isinstance(v, tuple) else v for v in vals)
            targets += [f"{label}={v}" for v in names]
        flags = (" closed" if ns.closed else "") + \
                (f" severity={ns.severity}" if ns.severity else "")
        print(f"shape <{ns.iri}> [{' '.join(targets)}]{flags}")
        for k in sorted(ns.constraints):
            print(f"  node-constraint {k}")
        for op, _inner in ns.logic:
            print(f"  logic {op}")
        for ps in sorted(ns.properties, key=lambda p: (p.path, p.inverse)):
            card = ""
            if ps.min_count is not None:
                card += f" minCount={ps.min_count}"
            if ps.max_count is not None:
                card += f" maxCount={ps.max_count}"
            cons = " ".join(sorted(ps.constraints))
            extra = (" uniqueLang" if ps.unique_lang else "") + \
                    (f" qualified" if ps.qualified else "") + \
                    "".join(f" {op}" for op, _ in ps.logic) + \
                    "".join(f" pair:{c}" for c, _ in sorted(ps.pairwise))
            print(f"  property {ps.path}{card}"
                  + (f" [{cons}]" if cons else "") + extra)


def _cmd_shacl(args) -> int:
    from jena_spark.queries.shacl import validate

    spark = _spark(args)
    shapes = _read_all(spark, [args.shapes], None)
    if getattr(args, "parse_only", False):
        _print_shapes(shapes)
        return 0
    if not args.data:
        raise SystemExit("shacl: --data is required unless --parse")
    data = _read_all(spark, [args.data], None)
    report = validate(data, shapes)
    rows = report.collect()
    if args.out:
        report.write.mode("overwrite").parquet(args.out)
    for r in rows:
        print("\t".join(str(v) for v in r))
    print(f"conforms: {len(rows) == 0}")
    return 0 if not rows else 1


def _cmd_stats(args) -> int:
    from jena_spark.pipeline.stats import predicate_counts

    spark = _spark(args)
    df = _read_all(spark, args.files, None)
    for row in predicate_counts(df).orderBy("predicate").toLocalIterator():
        print(f"{row['predicate']}\t{row['n']}")
    return 0


def _read_store(spark: SparkSession, location: str) -> DataFrame:
    """Open a pipeline-job store directory as a triples frame — every
    ``--format`` layout auto-detected: ``triples/`` (strings),
    ``triples_enc/ + node_dict/`` (encoded; decoded through the node
    dictionary), ``bucketed/ + node_dict/`` (SPO/OSP bucketBy store;
    re-attached via ``register_bucketed_store`` then decoded).
    Physical partitioning columns (part_id/bucket) are dropped, as the
    pipeline's own append path does."""
    import os

    def _clean(df: DataFrame) -> DataFrame:
        return df.drop(*[c for c in ("part_id", "bucket") if c in df.columns])

    if os.path.isdir(os.path.join(location, "triples")):
        return _clean(spark.read.parquet(f"{location}/triples"))
    nd = os.path.join(location, "node_dict")
    if (os.path.isdir(os.path.join(location, "triples_enc"))
            and os.path.isdir(nd)):
        from jena_spark.pipeline.encode import decode_triples

        return decode_triples(
            _clean(spark.read.parquet(f"{location}/triples_enc")),
            _clean(spark.read.parquet(nd)),
        )
    if os.path.isdir(os.path.join(location, "bucketed")) and os.path.isdir(nd):
        from jena_spark.pipeline.bucketed import register_bucketed_store
        from jena_spark.pipeline.encode import decode_triples

        tables = register_bucketed_store(
            spark, "cli_kg", f"{location}/bucketed")
        return decode_triples(
            _clean(spark.table(tables["spo"])),
            _clean(spark.read.parquet(nd)),
        )
    raise SystemExit(
        f"no store at {location}: expected triples/ or "
        "triples_enc/+node_dict/ or bucketed/+node_dict/")


def _cmd_tdbdump(args) -> int:
    """``tdb/tdbdump.java`` — dump a store as N-Triples/N-Quads
    (streamed to stdout, or distributed through the language registry
    with --out)."""
    spark = _spark(args)
    _emit(_read_store(spark, args.location), args.out, args.syntax)
    return 0


def _cmd_tdbstats(args) -> int:
    """``tdb/tdbstats.java`` — gather the ``StatsCollector`` census
    (predicate counts, rdf:type class counts, total) over a store or
    RDF files and emit the ``stats.opt`` SSE document ``StatsMatcher``
    / ``ReorderWeighted`` consume. ``--timestamp`` (never ``now()``)
    opts into the reference's meta timestamp pairs."""
    from jena_spark.pipeline.stats import gather_stats, write_stats_sse

    spark = _spark(args)
    df = (_read_store(spark, args.location) if args.location
          else _read_all(spark, args.files, None))
    text = write_stats_sse(gather_stats(df), timestamp=args.timestamp)
    if args.out:
        with open(args.out, "w", encoding="utf-8") as f:
            f.write(text)
    else:
        sys.stdout.write(text)
    return 0


def _cmd_tdbbackup(args) -> int:
    """``TDBBackup.java`` — one gzip-compressed N-Quads file of the
    store (the reference's backup artifact shape). The dump streams
    through ``toLocalIterator`` — a backup is a single file by
    contract, so the driver writes it, but never holds more than one
    partition."""
    import gzip

    from jena_spark.sources.ntriples import format_ntriples

    spark = _spark(args)
    df = _read_store(spark, args.location)
    with gzip.open(args.out, "wt", encoding="utf-8", compresslevel=6) as f:
        for row in format_ntriples(df, quads="graph" in df.columns
                                   ).toLocalIterator():
            f.write(row["value"] + "\n")
    return 0


def _cmd_tdbnode(args) -> int:
    """``tdb/tdbnode.java`` — print the node-dictionary mapping for
    the given NodeIds (the encoded store's content-hash ids). Lookup
    is an `isin` pushdown against the dictionary parquet — never a
    full materialization on the driver."""
    import os

    from jena_spark import terms as TM

    nd = os.path.join(args.location, "node_dict")
    if not os.path.isdir(nd):
        raise SystemExit(f"no node dictionary at {nd}")
    from pyspark.sql import functions as F

    spark = _spark(args)
    ids = [int(i) for i in args.node_ids]
    d = spark.read.parquet(nd).where(F.col("node_id").isin(ids))
    rows = {r["node_id"]: r for r in d.collect()}
    missing = False
    for i in ids:
        r = rows.get(i)
        if r is None:
            print(f"{i}: [not found]")
            missing = True
        else:
            print(f"{i}: "
                  + TM.nt_term(r["kind"], r["val"], r["datatype"], r["lang"]))
    return 1 if missing else 0


def _cmd_dumpthrift(args) -> int:
    """``riotcmd/dumpthrift.java`` — decode an RDF-Thrift (RDF Binary)
    file and stream it back out as N-Triples/N-Quads text."""
    from jena_spark.sources.thrift import read_thrift

    spark = _spark(args)
    df = read_thrift(spark, args.file, quads=args.quads)
    _emit(df, args.out, "nquads" if args.quads else "ntriples")
    return 0


def _cmd_tokens(args) -> int:
    """``riotcmd/printtokens.java`` / ``arq/tokens.java`` — print the
    Turtle-family lexer token stream, one ``kind<TAB>image`` line per
    token. Driver-side by design: token dumping is a parser-debugging
    tool over one document, not a data path."""
    from jena_spark.sources.turtle import _Tokens

    with open(args.file) as fh:
        text = fh.read()
    for kind, val in _Tokens(text).toks:
        print(f"{kind}\t{val}")
    return 0


def _cmd_tdbcompact(args) -> int:
    """``tdb2/tdbcompact.java`` — reclaim space in a versioned store:
    expire every snapshot but the head and delete the data dirs only
    expired ones listed (TDB2 compaction keeps only the live
    generation; :mod:`jena_spark.snapshots`). Readers of the head are
    unaffected, and a crash mid-compact only leaves garbage dirs."""
    from jena_spark.snapshots import SnapshotStore

    store = SnapshotStore(args.location)
    head = store.head()
    if head is None:
        raise SystemExit(f"tdbcompact: no committed snapshot in {args.location}")
    removed = store.expire(keep=1)
    print(f"live: {head['snapshot_id']}")
    print(f"removed: {len(removed)}")
    return 0


def _cmd_qexpr(args) -> int:
    """``arq/qexpr.java`` — evaluate a SPARQL expression from the
    command line through the engine's own scalar library: the
    expression is wrapped as ``SELECT (expr AS ?result)`` over the
    unit table and evaluated by Spark (same ``E_*`` mappings every
    query uses). Expression errors surface as SPARQL unbound (the
    engine's documented NULL convention; qexpr prints them as an
    error and exits 1 like the reference's ExprEvalException path)."""
    from jena_spark.queries.sparql import sparql_query

    spark = _spark(args)
    empty = spark.createDataFrame(
        [],
        "s_kind string, s_val string, p_val string, o_kind string,"
        " o_val string, o_datatype string, o_lang string",
    )
    q = (f"SELECT ({args.expression} AS ?result) "
         "WHERE { VALUES ?__unit { 1 } }")
    try:
        row = sparql_query(empty, q).first()
    except ValueError as e:
        print(f"Parse error: {e}", file=sys.stderr)
        return 2
    if row is None or row["result"] is None:
        print("Error: expression did not evaluate", file=sys.stderr)
        return 1
    val = row["result"]
    if isinstance(val, str) and __import__("re").fullmatch(r"-?\d+\.\d+", val):
        # presentation only: the engine's decimal shadow prints
        # trailing zeros; qexpr shows the canonical numeric form
        val = val.rstrip("0").rstrip(".")
    print(val)
    return 0


def _cmd_iri(args) -> int:
    """``arq/iri.java`` — parse each IRI and print its violations via
    the distributed IRIFactory analog (``functions/iri.py``)."""
    from jena_spark.functions.iri import iri_violations

    spark = _spark(args)
    df = spark.createDataFrame([(i,) for i in args.iris], "iri string")
    viols = {
        (r["iri"], r["code"], bool(r["is_error"]))
        for r in iri_violations(df, require_absolute=True).collect()
    }
    bad = False
    for i in args.iris:
        mine = sorted((c, e) for (v, c, e) in viols if v == i)
        print(f"{i} ::" + (" OK" if not mine else ""))
        for code, is_error in mine:
            bad = bad or is_error
            print(f"  {'Error' if is_error else 'Warning'}: {code}")
    return 1 if bad else 0


def _cmd_utf8(args) -> int:
    """``arq/utf8.java`` — check a file decodes as UTF-8."""
    with open(args.file, "rb") as f:
        data = f.read()
    try:
        data.decode("utf-8", errors="strict")
    except UnicodeDecodeError as e:
        print(f"Bad UTF-8 at byte {e.start}: {e.reason}", file=sys.stderr)
        return 1
    print(f"OK: {len(data)} bytes")
    return 0


def _cmd_wwwenc(args) -> int:
    """``arq/wwwenc.java`` — percent-encode command-line strings."""
    from urllib.parse import quote

    for s in args.strings:
        print(quote(s, safe=""))
    return 0


def _cmd_wwwdec(args) -> int:
    """``arq/wwwdec.java`` — percent-decode command-line strings."""
    from urllib.parse import unquote

    for s in args.strings:
        print(unquote(s))
    return 0


def _cmd_uparse(args) -> int:
    """``arq/uparse.java`` — parse and validate a SPARQL Update
    request (from --update or a file argument); prints the parsed
    operation list on success, the parse error on failure."""
    from jena_spark.pipeline.sparql_update import UpdateParser

    text = args.update
    if text is None:
        with open(args.file, encoding="utf-8") as f:
            text = f.read()
    try:
        ops = UpdateParser(text).parse_update()
    except Exception as e:  # noqa: BLE001 — any parse failure is the result
        print(f"Parse error: {e}", file=sys.stderr)
        return 2
    print(f"{len(ops)} update operation(s): "
          + ", ".join(op["op"] for op in ops))
    return 0


#: the fork's output column delimiter (``tdbqueryplan.java:225``).
_PLAN_COL_DELIM = "ᶶ"


def _cmd_queryplan(args) -> int:
    """``tdbqueryplan`` analog (``jena-neo-optimizer/.../tdb2/
    tdbqueryplan.java``): read a header-ed CSV of SPARQL queries
    (``ModCsvQueriesIn.readCsvFile`` — query at --query-column, id at
    --id-column or md5 of the text, unparseable queries logged and
    skipped), reorder every BGP (stats-fed when --data supplies a
    corpus — the ``StatsMatcher``/``stats.opt`` + ``ReorderWeighted``
    posture), and emit per query the serialized left-deep join
    tree(s). Plans are driver-side metadata; the only cluster work is
    the one-pass predicate census."""
    import csv
    import hashlib
    import json as _json

    from jena_spark.queries.jointree import measured_query_plan, query_plan

    measure = getattr(args, "measure", False)
    if measure and not args.data:
        print("queryplan: --measure requires --data", file=sys.stderr)
        return 2
    pred_counts = None
    data = None
    if args.data:
        from jena_spark.queries.algebra import pred_counts_of

        spark = _spark(args)
        data = _read_all(spark, args.data, None)
        if measure:
            data = data.persist()  # scanned once per measured query
        pred_counts = pred_counts_of(data)

    lines = []
    with open(args.queries_file, newline="") as f:
        rd = csv.reader(f, delimiter=args.input_delimiter)
        for i, rec in enumerate(rd):
            if i == 0 or not rec:  # header row, like the reference
                continue
            try:
                qtext = rec[args.query_column]
                qid = (rec[args.id_column] if args.id_column >= 0
                       else hashlib.md5(qtext.encode("utf-8")).hexdigest())
                if measure:
                    reg = measured_query_plan(data, qtext, pred_counts)
                else:
                    trees = query_plan(qtext, pred_counts)
            except Exception as e:  # noqa: BLE001 — reference logs bad
                # records (short rows AND unparseable queries) and moves on
                print(f"queryplan: skipping line {i + 1}: {e}", file=sys.stderr)
                continue
            if measure:
                lines.append(_PLAN_COL_DELIM.join([
                    qid, reg["query"], " ".join(reg["execution_tree"]),
                    _json.dumps(reg["cardinality"], ensure_ascii=False,
                                separators=(",", ":"), sort_keys=True),
                    str(reg["rows"]), str(reg["time_ms"]),
                ]))
            else:
                lines.append(_PLAN_COL_DELIM.join(
                    [qid, " ".join(qtext.split()), " ".join(trees)]
                ))
    text = "\n".join(lines) + ("\n" if lines else "")
    if args.out:
        with open(args.out, "w", encoding="utf-8") as f:
            f.write(text)
    else:
        sys.stdout.write(text)
    return 0


def _cmd_fuseki(args) -> int:
    """``fuseki-server`` analog (``jena-fuseki2/.../cmds/
    FusekiCmd.java``: ``fuseki-server --file=data.ttl /name``): serve
    one dataset — RDF files or a pipeline store — over the SPARQL 1.1
    protocol via :class:`jena_spark.pipeline.server.FusekiLite`.
    Blocks until interrupted (or exits after ``--requests N`` replies
    when given — the testable variant)."""
    from jena_spark.pipeline.server import FusekiLite

    spark = _spark(args)
    df = _dataset_of(args, spark)
    srv = FusekiLite({args.name: df}, enable_update=args.update,
                     port=args.port)
    base = srv.start()
    print(f"fuseki-lite: serving /{args.name}/sparql + /{args.name}/data"
          + (f" + /{args.name}/update" if args.update else "")
          + f" at {base}", flush=True)
    try:
        import time as _time

        if args.exit_after_seconds is not None:
            _time.sleep(args.exit_after_seconds)
        else:
            while True:
                _time.sleep(1)
    except KeyboardInterrupt:
        pass
    finally:
        srv.stop()
    return 0


def _cmd_load(args) -> int:
    spark = _spark(args)
    df = _read_all(spark, args.files, None)
    df.write.mode("overwrite").parquet(args.location)
    n = spark.read.parquet(args.location).count()
    print(f"loaded {n} triples -> {args.location}")
    return 0


_SCHEMAGEN_LIMIT = 100_000


def _cmd_rset(args) -> int:
    """``arq/rset.java``: convert a saved result set between formats.
    TSV/SRJ/XML inputs decode back to term structs (lossless); CSV is
    a flat lexical frame by design (``CSVInput.java``)."""
    from jena_spark.sources import resultsets as RS

    spark = _spark(args)

    def rd(fmt: str, path: str):
        if fmt == "csv":
            return RS.read_csv_results(spark, path)
        if fmt == "tsv":
            return RS.read_tsv(spark, path)
        if fmt == "srj":
            return RS.bindings_wide(RS.read_srj(spark, path))
        return RS.bindings_wide(RS.read_xml_results(spark, path))

    writers = {"csv": RS.write_csv, "tsv": RS.write_tsv,
               "json": RS.write_json, "srj": RS.write_srj,
               "xml": RS.write_xml_distributed}
    df = rd(args.in_format, args.input)
    if args.out_format in ("csv", "json"):
        # flat lexical sinks take flattened frames
        from jena_spark.queries import algebra as A

        struct_cols = [n for n, t in df.dtypes if t.startswith("struct")]
        if struct_cols:
            df = A.flatten(df, struct_cols)
    writers[args.out_format](df, args.out)
    return 0


def _cmd_schemagen(args) -> int:
    """``jena/schemagen.java``: read a vocabulary and emit a constants
    module — Java class with ``Property``/``Resource`` statics there, a
    Python module of IRI-string constants here. Driver-side collect is
    vocabulary-size by definition (guarded)."""
    from pyspark.sql import functions as F

    from jena_spark import terms as TM

    RDFS = "http://www.w3.org/2000/01/rdf-schema#"
    OWL = "http://www.w3.org/2002/07/owl#"
    RDF = "http://www.w3.org/1999/02/22-rdf-syntax-ns#"
    CLASS_TYPES = [RDFS + "Class", OWL + "Class"]
    PROP_TYPES = [RDF + "Property", OWL + "ObjectProperty",
                  OWL + "DatatypeProperty", OWL + "AnnotationProperty"]

    spark = _spark(args)
    df = _read_all(spark, args.inputs, None)
    typed = (
        df.where((F.col("p_val") == TM.RDF_TYPE) & (F.col("s_kind") == "iri"))
        .select("s_val", "o_val").distinct()
    )
    rows = typed.limit(_SCHEMAGEN_LIMIT + 1).collect()
    if len(rows) > _SCHEMAGEN_LIMIT:
        raise SystemExit(
            f"schemagen: more than {_SCHEMAGEN_LIMIT:,} typed resources — "
            "this is instance data, not a vocabulary")
    classes = sorted({r["s_val"] for r in rows if r["o_val"] in CLASS_TYPES})
    props = sorted({r["s_val"] for r in rows if r["o_val"] in PROP_TYPES})
    class_set = set(classes)
    individuals = sorted(
        {r["s_val"] for r in rows if r["o_val"] in class_set}
    ) if args.individuals else []

    ns = args.namespace
    if not ns:
        # most common namespace among the declared terms (schemagen's
        # namespace sniffing)
        import re
        from collections import Counter

        split = [re.match(r"^(.*[#/])([^#/]*)$", t)
                 for t in classes + props + individuals]
        counts = Counter(m.group(1) for m in split if m)
        if not counts:
            raise SystemExit("schemagen: no declared vocabulary terms found")
        ns = counts.most_common(1)[0][0]

    def ident(iri: str, taken: set[str]) -> str:
        import re

        local = re.split(r"[#/]", iri.rstrip("#/"))[-1] or "term"
        name = re.sub(r"\W", "_", local)
        if not name or name[0].isdigit():
            name = "_" + name
        base, i = name, 1
        while name in taken:
            i += 1
            name = f"{base}_{i}"
        taken.add(name)
        return name

    lines = [
        '"""Vocabulary constants generated by '
        "``python -m jena_spark schemagen`` (jena/schemagen.java analog).",
        f"Source namespace: {ns}\"\"\"", "",
        f"class {args.classname}:",
        f"    NS = {ns!r}",
    ]
    taken: set[str] = {"NS"}
    for title, group in (("classes", classes), ("properties", props),
                         ("individuals", individuals)):
        in_ns = [t for t in group if t.startswith(ns)]
        if in_ns:
            lines.append(f"    # {title}")
            lines += [f"    {ident(t, taken)} = {t!r}" for t in in_ns]
    text = "\n".join(lines) + "\n"
    if args.out:
        with open(args.out, "w") as fh:
            fh.write(text)
    else:
        sys.stdout.write(text)
    return 0


#: file extension -> request Content-Type for s-put/s-post (the soh
#: script's content_type() extension table).
_SOH_EXT_CT = {
    "nt": "application/n-triples", "nq": "application/n-quads",
    "ttl": "text/turtle", "n3": "text/turtle",
    "trig": "application/trig", "rdf": "application/rdf+xml",
    "xml": "application/rdf+xml", "jsonld": "application/ld+json",
}


def _cmd_soh(args) -> int:
    """SOH — SPARQL over HTTP command scripts.

    Reference: ``jena-fuseki2/apache-jena-fuseki/bin/soh`` (one ruby
    client behind the ``s-*`` symlinks): ``s-get``/``s-head``/
    ``s-put``/``s-post``/``s-delete`` speak the Graph Store Protocol
    against a ``…/data`` service (graph name ``default`` = the default
    graph), ``s-query``/``s-update`` the SPARQL 1.1 protocol. Pure
    HTTP clients — no Spark session is started (the reference's soh is
    a standalone script for the same reason)."""
    import urllib.error
    import urllib.request
    from urllib.parse import quote

    verb = args.verb

    def text_of(v: str) -> str:
        if v.startswith("@"):  # soh accepts --query=file; @file here
            with open(v[1:], encoding="utf-8") as f:
                return f.read()
        return v

    try:
        if verb in ("s-query", "s-update"):
            ct = ("application/sparql-query" if verb == "s-query"
                  else "application/sparql-update")
            accept = "application/sparql-results+json"
            req = urllib.request.Request(
                args.service, data=text_of(args.text).encode("utf-8"),
                headers={"Content-Type": ct, "Accept": accept},
                method="POST")
        else:
            base = args.dataset.rstrip("/")
            url = base + ("?default" if args.graph == "default"
                          else "?graph=" + quote(args.graph, safe=""))
            method = {"s-get": "GET", "s-head": "HEAD", "s-put": "PUT",
                      "s-post": "POST", "s-delete": "DELETE"}[verb]
            body, headers = None, {"Accept": "application/n-triples"}
            if verb in ("s-put", "s-post"):
                with open(args.file, "rb") as f:
                    body = f.read()
                ext = args.file.rsplit(".", 1)[-1].lower()
                headers["Content-Type"] = _SOH_EXT_CT.get(
                    ext, "application/n-triples")
            req = urllib.request.Request(
                url, data=body, headers=headers, method=method)
        with urllib.request.urlopen(req, timeout=60) as r:
            out = r.read().decode("utf-8", "replace")
        if verb in ("s-get", "s-query"):
            sys.stdout.write(out if out.endswith("\n") or not out
                             else out + "\n")
        return 0
    except urllib.error.HTTPError as e:
        print(f"{verb}: HTTP {e.code}: "
              f"{e.read().decode('utf-8', 'replace').strip()}",
              file=sys.stderr)
        return 1
    except urllib.error.URLError as e:
        print(f"{verb}: {e.reason}", file=sys.stderr)
        return 1


def _cmd_version(args) -> int:  # noqa: ARG001
    import jena_spark

    print(f"jena_spark {getattr(jena_spark, '__version__', '0')} "
          f"(Apache Jena semantics on PySpark)")
    return 0


def build_parser() -> argparse.ArgumentParser:
    ap = argparse.ArgumentParser(
        prog="jena_spark", description=__doc__.splitlines()[0])
    ap.add_argument("--cores", type=int, default=4)
    ap.add_argument("--shuffle-partitions", type=int, default=8)
    sub = ap.add_subparsers(dest="cmd", required=True)

    p = sub.add_parser("riot", help="parse / validate / convert RDF")
    p.add_argument("files", nargs="+")
    p.add_argument("--syntax", help="input language (default: by extension)")
    p.add_argument("--output", help="output language for --out/stdout")
    p.add_argument("--validate", action="store_true")
    p.add_argument("--out")
    p.set_defaults(fn=_cmd_riot)

    for name in ("arq", "sparql", "tdbquery"):
        p = sub.add_parser(name, help="run a SPARQL query")
        p.add_argument("--data", action="append")
        p.add_argument("--location",
                       help="pipeline store directory instead of --data "
                            "(tdbquery posture; strings/encoded/bucketed "
                            "layouts auto-detected)")
        p.add_argument("--query", help="query string")
        p.add_argument("--query-file")
        p.add_argument("--results", choices=["csv", "tsv", "json", "xml"],
                       default="tsv")
        p.add_argument("--out")
        p.set_defaults(fn=_cmd_arq)

    p = sub.add_parser("update", help="run a SPARQL Update")
    p.add_argument("--data", action="append")
    p.add_argument("--location",
                   help="pipeline store directory instead of --data "
                        "(read side of tdbupdate; the result graph goes "
                        "to --out / stdout, never back into the store)")
    p.add_argument("--request", help="update string")
    p.add_argument("--update-file")
    p.add_argument("--out")
    p.set_defaults(fn=_cmd_update)

    p = sub.add_parser("tdbdump", help="dump a store as N-Triples/N-Quads")
    p.add_argument("--location", required=True)
    p.add_argument("--syntax", default=None,
                   help="output language for --out (default N-Triples)")
    p.add_argument("--out")
    p.set_defaults(fn=_cmd_tdbdump)

    p = sub.add_parser(
        "tdbstats", help="emit a stats.opt SSE document (tdbstats)")
    p.add_argument("files", nargs="*")
    p.add_argument("--location", default=None,
                   help="read a pipeline-job store instead of files")
    p.add_argument("--timestamp", default=None,
                   help="ISO dateTime for the meta pairs (omitted when "
                        "not given — deterministic output)")
    p.add_argument("--out")
    p.set_defaults(fn=_cmd_tdbstats)

    p = sub.add_parser(
        "tdbbackup", help="gzip-compressed N-Quads backup of a store")
    p.add_argument("--location", required=True)
    p.add_argument("--out", required=True)
    p.set_defaults(fn=_cmd_tdbbackup)

    p = sub.add_parser("tdbnode", help="print node-dictionary entries")
    p.add_argument("--location", required=True)
    p.add_argument("node_ids", nargs="+")
    p.set_defaults(fn=_cmd_tdbnode)

    p = sub.add_parser("qparse", help="print query algebra (SSE)")
    p.add_argument("--query")
    p.add_argument("--query-file")
    p.set_defaults(fn=_cmd_qparse)

    p = sub.add_parser("infer", help="apply a rule file")
    p.add_argument("files", nargs="+")
    p.add_argument("--rules", required=True)
    p.add_argument("--max-iter", type=int, default=50)
    p.add_argument("--deductions-only", action="store_true",
                   help="emit only derived triples (RuleMap -d)")
    p.add_argument("--out")
    p.set_defaults(fn=_cmd_infer)

    p = sub.add_parser("rdfcat", help="concatenate RDF documents")
    p.add_argument("files", nargs="+")
    p.add_argument("--output", help="output language")
    p.add_argument("--out")
    p.set_defaults(fn=_cmd_rdfcat)

    p = sub.add_parser("rdfdiff", help="term-level model diff (exit 0/1)")
    p.add_argument("first")
    p.add_argument("second")
    p.set_defaults(fn=_cmd_rdfdiff)

    p = sub.add_parser("rdfcompare", help="isomorphism compare (exit 0/1)")
    p.add_argument("first")
    p.add_argument("second")
    p.add_argument("--lenient", action="store_true",
                   help="accept WL-equivalent ambiguous bnodes")
    p.set_defaults(fn=_cmd_rdfcompare)

    p = sub.add_parser("shacl", help="SHACL validation report (exit 0/1)")
    p.add_argument("--data")
    p.add_argument("--shapes", required=True)
    p.add_argument("--parse", dest="parse_only", action="store_true",
                   help="print the compiled shapes instead of validating")
    p.add_argument("--out")
    p.set_defaults(fn=_cmd_shacl)

    p = sub.add_parser("dumpthrift", help="dump an RDF-Thrift file as text")
    p.add_argument("file")
    p.add_argument("--quads", action="store_true")
    p.add_argument("--out")
    p.set_defaults(fn=_cmd_dumpthrift)

    p = sub.add_parser("tokens", help="print the Turtle lexer token stream")
    p.add_argument("file")
    p.set_defaults(fn=_cmd_tokens)

    p = sub.add_parser("tdbcompact",
                       help="expire every snapshot of a store but the head")
    p.add_argument("--location", required=True)
    p.set_defaults(fn=_cmd_tdbcompact)

    p = sub.add_parser("stats", help="per-predicate counts")
    p.add_argument("files", nargs="+")
    p.set_defaults(fn=_cmd_stats)

    p = sub.add_parser(
        "queryplan",
        help="serialized join-tree plans for a CSV of queries "
             "(tdbqueryplan analog)",
    )
    p.add_argument("--queries-file", required=True,
                   help="CSV with a header row; one query per line")
    p.add_argument("--query-column", type=int, default=0)
    p.add_argument("--id-column", type=int, default=-1,
                   help="id column index; -1 = md5 of the query text")
    p.add_argument("--input-delimiter", default=",")
    p.add_argument("--data", nargs="*", default=None,
                   help="RDF files: collect predicate counts and use "
                        "the stats-fed reorder (stats.opt analog)")
    p.add_argument("--measure", action="store_true",
                   help="EXECUTE each query against --data and append "
                        "measured per-pattern cardinalities (leaf "
                        "labels gain ᶷ<count>), the cardinality "
                        "registry JSON, result rows and wall ms "
                        "(tdbqueryplan.java:46-51 registries with "
                        "executed numbers)")
    p.add_argument("--out", default=None)
    p.set_defaults(fn=_cmd_queryplan)

    p = sub.add_parser(
        "fuseki",
        help="serve a dataset over the SPARQL 1.1 protocol "
             "(fuseki-server analog; blocks until interrupted)",
    )
    p.add_argument("--data", nargs="*", default=None)
    p.add_argument("--location", default=None)
    p.add_argument("--name", default="ds", help="dataset path segment")
    p.add_argument("--port", type=int, default=3030)
    p.add_argument("--update", action="store_true",
                   help="enable the /NAME/update service")
    p.add_argument("--exit-after-seconds", type=float, default=None,
                   help="serve for N seconds then exit (tests/demos; "
                        "default: block until interrupted)")
    p.set_defaults(fn=_cmd_fuseki)

    p = sub.add_parser("load", help="bulk-load into a parquet store")
    p.add_argument("files", nargs="+")
    p.add_argument("--location", required=True)
    p.set_defaults(fn=_cmd_load)

    p = sub.add_parser("rset", help="convert a result set between formats")
    p.add_argument("input")
    p.add_argument("--in-format", choices=["csv", "tsv", "srj", "xml"],
                   required=True)
    p.add_argument("--out", required=True)
    p.add_argument("--out-format",
                   choices=["csv", "tsv", "json", "srj", "xml"], required=True)
    p.set_defaults(fn=_cmd_rset)

    p = sub.add_parser("schemagen", help="vocabulary -> Python constants module")
    p.add_argument("--inputs", nargs="+", required=True)
    p.add_argument("--namespace", help="default: most common declared namespace")
    p.add_argument("--classname", default="VOCAB")
    p.add_argument("--individuals", action="store_true")
    p.add_argument("--out")
    p.set_defaults(fn=_cmd_schemagen)

    p = sub.add_parser("qexpr", help="evaluate a SPARQL expression")
    p.add_argument("expression")
    p.set_defaults(fn=_cmd_qexpr)

    p = sub.add_parser("iri", help="parse IRIs, print violations (exit 0/1)")
    p.add_argument("iris", nargs="+")
    p.set_defaults(fn=_cmd_iri)

    p = sub.add_parser("utf8", help="check a file decodes as UTF-8")
    p.add_argument("file")
    p.set_defaults(fn=_cmd_utf8)

    p = sub.add_parser("wwwenc", help="percent-encode strings")
    p.add_argument("strings", nargs="+")
    p.set_defaults(fn=_cmd_wwwenc)

    p = sub.add_parser("wwwdec", help="percent-decode strings")
    p.add_argument("strings", nargs="+")
    p.set_defaults(fn=_cmd_wwwdec)

    p = sub.add_parser("uparse", help="parse/validate a SPARQL Update")
    p.add_argument("file", nargs="?")
    p.add_argument("--update", default=None,
                   help="inline update text instead of a file")
    p.set_defaults(fn=_cmd_uparse)

    for name, hlp in [
        ("s-get", "GSP GET a graph (soh: s-get dataset graph)"),
        ("s-head", "GSP HEAD: graph existence probe (exit 0/1)"),
        ("s-put", "GSP PUT (replace) a graph from a file"),
        ("s-post", "GSP POST (merge) a file into a graph"),
        ("s-delete", "GSP DELETE a graph"),
    ]:
        p = sub.add_parser(name, help=hlp)
        p.add_argument("dataset", help="GSP service URL (…/<ds>/data)")
        p.add_argument("graph", help="'default' or a graph IRI")
        if name in ("s-put", "s-post"):
            p.add_argument("file")
        p.set_defaults(fn=_cmd_soh, verb=name)

    for name, verb, hlp in [
        ("s-query", "s-query",
         "SPARQL protocol query (soh: s-query --service=…)"),
        ("s-update", "s-update", "SPARQL protocol update"),
        # jena-cmds spellings of the same two protocol operations
        # (rdfconnection/.../examples & cmds rsparql.java / rupdate.java)
        ("rsparql", "s-query", "query a remote SPARQL endpoint (rsparql)"),
        ("rupdate", "s-update", "update a remote SPARQL endpoint (rupdate)"),
    ]:
        p = sub.add_parser(name, help=hlp)
        p.add_argument("--service", required=True)
        p.add_argument("text", help="query/update string, or @file")
        p.set_defaults(fn=_cmd_soh, verb=verb)

    p = sub.add_parser("version")
    p.set_defaults(fn=_cmd_version)
    return ap


def main(argv: list[str] | None = None) -> int:
    args = build_parser().parse_args(argv)
    return args.fn(args)


if __name__ == "__main__":
    raise SystemExit(main())
