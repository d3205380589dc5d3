"""jena-cmds analog CLI tests (``jena_spark/cli.py`` — reference
commands in ``jena-cmds/src/main/java``: riotcmd/riot.java,
arq/query.java, arq/qparse.java, riotcmd/infer.java, jena/rdfcat.java,
jena/rdfcompare.java, shacl/shacl.java, tdb/tdbstats.java,
tdb/tdbloader.java)."""

from __future__ import annotations

import pytest

from jena_spark import terms as TMT
from jena_spark.cli import main

EX = "http://ex.org/"

TTL = f"""@prefix ex: <{EX}> .
ex:alice ex:name "alice" ; ex:age 30 ; ex:knows ex:bob .
ex:bob ex:name "bob" ; ex:age 25 .
"""


@pytest.fixture(scope="module")
def ttl_file(tmp_path_factory, spark):  # spark: session reuse for get_spark
    p = tmp_path_factory.mktemp("cli") / "data.ttl"
    p.write_text(TTL)
    return str(p)


def _run(capsys, *argv) -> tuple[int, str]:
    rc = main(["--cores", "4", "--shuffle-partitions", "4", *argv])
    return rc, capsys.readouterr().out


def test_riot_validate_and_convert(capsys, ttl_file, tmp_path):
    rc, out = _run(capsys, "riot", "--validate", ttl_file)
    assert rc == 0 and "OK: 5 triples" in out
    # convert to N-Triples on stdout
    rc, out = _run(capsys, "riot", ttl_file)
    assert rc == 0
    lines = [ln for ln in out.splitlines() if ln.strip()]
    assert len(lines) == 5 and all(ln.endswith(" .") for ln in lines)
    assert f'<{EX}alice> <{EX}name> "alice" .' in lines
    # convert to a Turtle directory output and read it back
    dest = str(tmp_path / "out.ttl")
    rc, _ = _run(capsys, "riot", ttl_file, "--out", dest)
    assert rc == 0
    rc, out = _run(capsys, "riot", "--validate", dest)
    assert "OK: 5 triples" in out


def test_arq_query_stdout(capsys, ttl_file):
    rc, out = _run(
        capsys, "arq", "--data", ttl_file,
        "--query", f"PREFIX ex: <{EX}> SELECT ?n WHERE {{ ?x ex:name ?n }} ORDER BY ?n",
    )
    assert rc == 0
    assert out.splitlines() == ["n", "alice", "bob"]


def test_arq_results_sink(capsys, ttl_file, tmp_path):
    dest = str(tmp_path / "res_csv")
    rc, _ = _run(
        capsys, "sparql", "--data", ttl_file, "--results", "csv",
        "--out", dest,
        "--query", f"PREFIX ex: <{EX}> SELECT ?n WHERE {{ ?x ex:name ?n }}",
    )
    assert rc == 0
    import glob

    txt = "".join(open(f).read() for f in glob.glob(dest + "/*.csv") + glob.glob(dest + "/part-*"))
    assert "alice" in txt and "bob" in txt


def test_update_roundtrip(capsys, ttl_file):
    rc, out = _run(
        capsys, "update", "--data", ttl_file,
        "--request", f"INSERT DATA {{ <{EX}carol> <{EX}name> \"carol\" }}",
    )
    assert rc == 0
    assert f'<{EX}carol> <{EX}name> "carol" .' in out.splitlines()


def test_qparse_sse(capsys):
    rc, out = _run(
        capsys, "qparse",
        "--query", f"SELECT ?s WHERE {{ ?s <{EX}name> ?n }}",
    )
    assert rc == 0 and "(project" in out and "bgp" in out


def test_infer(capsys, ttl_file, tmp_path):
    rules = tmp_path / "r.rules"
    rules.write_text(
        f"@prefix ex: <{EX}>.\n"
        "[r: (?a ex:knows ?b) -> (?b ex:knownBy ?a)]\n")
    rc, out = _run(capsys, "infer", ttl_file, "--rules", str(rules))
    assert rc == 0
    assert f"<{EX}bob> <{EX}knownBy> <{EX}alice> ." in out.splitlines()
    # RuleMap -d mode: only the deductions
    rc, out = _run(capsys, "infer", ttl_file, "--rules", str(rules),
                   "--deductions-only")
    assert rc == 0
    assert out.splitlines() == [f"<{EX}bob> <{EX}knownBy> <{EX}alice> ."]


def test_rdfcat_and_compare(capsys, ttl_file, tmp_path):
    other = tmp_path / "more.nt"
    other.write_text(f"<{EX}dave> <{EX}name> \"dave\" .\n")
    rc, out = _run(capsys, "rdfcat", ttl_file, str(other))
    assert rc == 0 and len([l for l in out.splitlines() if l.strip()]) == 6
    # isomorphic to itself, not to the other file
    rc, out = _run(capsys, "rdfcompare", ttl_file, ttl_file)
    assert rc == 0 and "equal" in out
    rc, out = _run(capsys, "rdfcompare", ttl_file, str(other))
    assert rc == 1 and "unequal" in out
    # rdfdiff: per-side unique triples with </> markers
    rc, out = _run(capsys, "rdfdiff", ttl_file, str(other))
    assert rc == 1
    lines = out.splitlines()
    assert sum(1 for l in lines if l.startswith("< ")) == 5
    assert [l for l in lines if l.startswith("> ")] == [
        f"> <{EX}dave> <{EX}name> \"dave\" ."]
    rc, out = _run(capsys, "rdfdiff", ttl_file, ttl_file)
    assert rc == 0 and "models are equal" in out


def test_stats_and_load(capsys, ttl_file, tmp_path):
    rc, out = _run(capsys, "stats", ttl_file)
    assert rc == 0
    stats = dict(ln.split("\t") for ln in out.splitlines())
    assert stats[EX + "name"] == "2" and stats[EX + "age"] == "2"
    dest = str(tmp_path / "store")
    rc, out = _run(capsys, "load", ttl_file, "--location", dest)
    assert rc == 0 and "loaded 5 triples" in out


def test_shacl_cli(capsys, ttl_file, tmp_path):
    sh = "http://www.w3.org/ns/shacl#"
    shapes = tmp_path / "shapes.ttl"
    shapes.write_text(
        f"@prefix sh: <{sh}> .\n@prefix ex: <{EX}> .\n"
        "ex:PersonShape a sh:NodeShape ;\n"
        "  sh:targetSubjectsOf ex:name ;\n"
        "  sh:property [ sh:path ex:age ; sh:minCount 1 ] .\n")
    rc, out = _run(capsys, "shacl", "--data", ttl_file, "--shapes", str(shapes))
    assert rc == 0 and "conforms: True" in out
    # break conformance: a named node missing ex:age
    bad = tmp_path / "bad.ttl"
    bad.write_text(TTL + f"<{EX}carol> <{EX}name> \"carol\" .\n")
    rc, out = _run(capsys, "shacl", "--data", str(bad), "--shapes", str(shapes))
    assert rc == 1 and "conforms: False" in out


def test_rset_conversion(capsys, spark, tmp_path):
    """rset (arq/rset.java): TSV -> SRJ -> CSV conversions preserve the
    bindings (TSV/SRJ are term-lossless; CSV flattens by design)."""
    import glob
    import json

    from jena_spark.queries import algebra as A
    from jena_spark.sources.resultsets import write_tsv

    vals = A.values(
        spark, ["x", "y"],
        [[("iri", EX + "a"), ("literal", "5",
                              "http://www.w3.org/2001/XMLSchema#integer")],
         [("bnode", "_:b0"), ("literal", "bonjour", None, "fr")]],
    )
    tsv = str(tmp_path / "r.tsv")
    write_tsv(vals, tsv)
    srj = str(tmp_path / "r.srj")
    rc, _ = _run(capsys, "rset", tsv, "--in-format", "tsv",
                 "--out", srj, "--out-format", "srj")
    assert rc == 0
    doc = json.load(open(srj))
    assert sorted(doc["head"]["vars"]) == ["x", "y"]
    assert len(doc["results"]["bindings"]) == 2
    csv_dir = str(tmp_path / "r.csv")
    rc, _ = _run(capsys, "rset", srj, "--in-format", "srj",
                 "--out", csv_dir, "--out-format", "csv")
    assert rc == 0
    txt = "".join(open(f).read() for f in glob.glob(csv_dir + "/part-*"))
    assert EX + "a" in txt and "bonjour" in txt


def test_schemagen(capsys, tmp_path):
    vocab = tmp_path / "vocab.ttl"
    vocab.write_text(
        f"@prefix ex: <{EX}> .\n"
        "@prefix owl: <http://www.w3.org/2002/07/owl#> .\n"
        "@prefix rdfs: <http://www.w3.org/2000/01/rdf-schema#> .\n"
        "ex:Person a owl:Class .\n"
        "ex:Dog a rdfs:Class .\n"
        "ex:knows a owl:ObjectProperty .\n"
        "ex:age a owl:DatatypeProperty .\n"
        "ex:rex a ex:Dog .\n")
    rc, out = _run(capsys, "schemagen", "--inputs", str(vocab),
                   "--classname", "EX", "--individuals")
    assert rc == 0
    # the output is a valid Python module exposing the constants
    env: dict = {}
    exec(out, env)  # noqa: S102 — generated code under test
    EXv = env["EX"]
    assert EXv.NS == EX
    assert EXv.Person == EX + "Person" and EXv.Dog == EX + "Dog"
    assert EXv.knows == EX + "knows" and EXv.age == EX + "age"
    assert EXv.rex == EX + "rex"


def test_version(capsys):
    rc, out = _run(capsys, "version")
    assert rc == 0 and "jena_spark" in out


def test_qexpr(capsys):
    rc, out = _run(capsys, "qexpr", "2 + 3 * 4")
    assert rc == 0 and out.strip() == "14"
    rc, out = _run(capsys, "qexpr", "CONCAT('a', UCASE('bc'))")
    assert rc == 0 and out.strip() == "aBC"
    # expression error (SPARQL unbound) -> rc 1, not a crash
    rc, out = _run(capsys, "qexpr", "1/0")
    assert rc == 1
    # parse error -> rc 2
    rc, out = _run(capsys, "qexpr", "1 +")
    assert rc == 2


def test_iri_tool(capsys):
    rc, out = _run(capsys, "iri", "http://example/ok")
    assert rc == 0 and ":: OK" in out
    rc, out = _run(capsys, "iri", "http://example/ok", "no-scheme/path")
    assert rc == 1 and "Error:" in out


def test_utf8_wwwenc_wwwdec(capsys, tmp_path):
    p = tmp_path / "ok.txt"
    p.write_bytes("héllo".encode("utf-8"))
    rc, out = _run(capsys, "utf8", str(p))
    assert rc == 0 and out.startswith("OK: 6 bytes")
    bad = tmp_path / "bad.txt"
    bad.write_bytes(b"\xff\xfe")
    assert _run(capsys, "utf8", str(bad))[0] == 1
    rc, out = _run(capsys, "wwwenc", "a b&c")
    assert rc == 0 and out.strip() == "a%20b%26c"
    rc, out = _run(capsys, "wwwdec", "a%20b%26c")
    assert rc == 0 and out.strip() == "a b&c"


def test_uparse(capsys, tmp_path):
    rc, out = _run(capsys, "uparse", "--update",
                   "INSERT DATA { <http://a> <http://b> 1 } ; CLEAR DEFAULT")
    assert rc == 0 and "2 update operation(s): insert_data, clear" in out
    f = tmp_path / "u.ru"
    f.write_text("DELETE WHERE { ?s <http://p> ?o }")
    rc, out = _run(capsys, "uparse", str(f))
    assert rc == 0 and "delete_where" in out
    assert _run(capsys, "uparse", "--update", "INSERT GARBAGE")[0] == 2


def test_store_commands(capsys, tmp_path, spark):
    """tdbdump / tdbnode / tdbquery --location over every store layout
    pipeline_job writes (strings, encoded, bucketed)."""
    from jena_spark.pipeline.bucketed import write_bucketed_store
    from jena_spark.pipeline.encode import encode_triples, node_dictionary
    from jena_spark.pipeline.materialize import resume_or_write

    rows = [
        ("iri", "http://e/a", "http://e/p", "literal", "x", None, None, "c1"),
        ("iri", "http://e/b", "http://e/p", "iri", "http://e/a", None, None, "c1"),
    ]
    t = spark.createDataFrame(
        rows, "s_kind string, s_val string, p_val string, o_kind string,"
        " o_val string, o_datatype string, o_lang string, conv_id string")
    base = str(tmp_path)
    resume_or_write(t, f"{base}/s/triples", "triples", 2, key="conv_id")
    enc = encode_triples(t.drop("conv_id"))
    nd = node_dictionary(t.drop("conv_id"))
    enc.write.parquet(f"{base}/e/triples_enc")
    nd.write.parquet(f"{base}/e/node_dict")
    write_bucketed_store(enc, "testcli", f"{base}/b/bucketed", 2)
    nd.write.parquet(f"{base}/b/node_dict")

    expect = {'<http://e/a> <http://e/p> "x" .',
              "<http://e/b> <http://e/p> <http://e/a> ."}
    for layout in ("s", "e", "b"):
        rc, out = _run(capsys, "tdbdump", "--location", f"{base}/{layout}")
        assert rc == 0 and set(out.strip().splitlines()) == expect, layout

    nid = nd.first()
    rc, out = _run(capsys, "tdbnode", "--location", f"{base}/e",
                   str(nid["node_id"]))
    assert rc == 0 and out.strip().endswith(
        TMT.nt_term(nid["kind"], nid["val"], nid["datatype"], nid["lang"]))
    # a missing id reports [not found] and exits 1
    rc, out = _run(capsys, "tdbnode", "--location", f"{base}/e", "12345")
    assert rc == 1 and "[not found]" in out

    rc, out = _run(capsys, "tdbquery", "--location", f"{base}/e",
                   "--query", 'SELECT ?s WHERE { ?s <http://e/p> "x" }')
    assert rc == 0 and out.splitlines()[1] == "http://e/a"
    # exactly one of --data / --location
    import pytest as _p
    with _p.raises(SystemExit):
        _run(capsys, "tdbquery", "--query", "SELECT * WHERE { ?s ?p ?o }")


def test_tdbstats(capsys, ttl_file, tmp_path):
    """tdb/tdbstats.java: the stats.opt SSE census document."""
    from jena_spark.pipeline.stats import parse_stats_sse

    typed = tmp_path / "typed.ttl"
    typed.write_text(
        TTL + f"ex:alice a ex:Person .\nex:bob a ex:Person .\n")
    rc, out = _run(capsys, "tdbstats", str(typed))
    assert rc == 0 and out.startswith("(stats")
    s = parse_stats_sse(out)
    assert s.count == 7
    assert s.predicates[EX + "name"] == 2
    assert s.types == {EX + "Person": 2}
    # --out writes the file; --timestamp opts into the meta pairs
    dest = tmp_path / "stats.opt"
    rc, _ = _run(capsys, "tdbstats", str(typed), "--out", str(dest),
                 "--timestamp", "2026-01-01T00:00:00Z")
    assert rc == 0
    text = dest.read_text()
    assert '(run@ "2026-01-01T00:00:00Z")' in text
    assert parse_stats_sse(text).predicates == s.predicates


def test_tdbbackup(capsys, ttl_file, tmp_path):
    """TDBBackup.java: one gzipped N-Quads file of the store."""
    import gzip

    store = str(tmp_path / "store")
    rc, _ = _run(capsys, "load", ttl_file, "--location", f"{store}/triples")
    assert rc == 0
    backup = str(tmp_path / "backup.nq.gz")
    rc, _ = _run(capsys, "tdbbackup", "--location", store, "--out", backup)
    assert rc == 0
    with gzip.open(backup, "rt", encoding="utf-8") as f:
        lines = {ln.strip() for ln in f if ln.strip()}
    rc, out = _run(capsys, "tdbdump", "--location", store)
    assert lines == {ln.strip() for ln in out.splitlines() if ln.strip()}
    assert len(lines) == 5


def test_rsparql_rupdate(capsys, spark):
    """rsparql/rupdate — the jena-cmds remote-endpoint spellings drive
    a live SPARQL-protocol server end-to-end."""
    from jena_spark.pipeline.server import FusekiLite

    rows = [("iri", EX + "alice", EX + "name", "literal", "alice",
             None, None)]
    data = spark.createDataFrame(
        rows, "s_kind string, s_val string, p_val string, o_kind string,"
        " o_val string, o_datatype string, o_lang string")
    with FusekiLite({"ds": data}, enable_update=True) as base:
        rc, out = _run(
            capsys, "rsparql", "--service", f"{base}/ds/sparql",
            f"SELECT ?n WHERE {{ ?s <{EX}name> ?n }}")
        assert rc == 0 and '"alice"' in out
        rc, _ = _run(
            capsys, "rupdate", "--service", f"{base}/ds/update",
            f"INSERT DATA {{ <{EX}c> <{EX}name> \"carol\" }}")
        assert rc == 0
        rc, out = _run(
            capsys, "rsparql", "--service", f"{base}/ds/sparql",
            f"SELECT ?n WHERE {{ <{EX}c> <{EX}name> ?n }}")
        assert rc == 0 and '"carol"' in out


def test_dumpthrift(capsys, spark, tmp_path):
    """riotcmd/dumpthrift.java: thrift file -> N-Triples text."""
    from jena_spark.sources.thrift import write_thrift

    t = spark.createDataFrame(
        [("iri", "http://e/a", "http://e/p", "literal", "x", None, None)],
        "s_kind string, s_val string, p_val string, o_kind string,"
        " o_val string, o_datatype string, o_lang string")
    path = str(tmp_path / "d.trdf")
    write_thrift(t, path)
    rc, out = _run(capsys, "dumpthrift", path)
    assert rc == 0
    assert out.strip() == '<http://e/a> <http://e/p> "x" .'


def test_tokens(capsys, tmp_path):
    """riotcmd/printtokens.java: kind<TAB>image token stream."""
    p = tmp_path / "t.ttl"
    p.write_text('@prefix ex: <http://e/> .\nex:a ex:p "x" .\n')
    rc, out = _run(capsys, "tokens", str(p))
    assert rc == 0
    lines = out.strip().splitlines()
    assert "iri\t<http://e/>" in lines
    assert "pname_full\tex:a" in lines
    assert 'str2\t"x"' in lines
    # statement terminators present
    assert lines.count("punct\t.") == 2


def test_tdbcompact(capsys, spark, tmp_path):
    """tdb2/tdbcompact.java: only the head generation survives."""
    import os

    from jena_spark.pipeline.txn import TransactionalStore
    from jena_spark.snapshots import SnapshotStore

    quads = spark.createDataFrame(
        [("iri", "http://e/a", "http://e/p", "literal", "1", None, None,
          None)],
        "s_kind string, s_val string, p_val string, o_kind string,"
        " o_val string, o_datatype string, o_lang string, graph string")
    loc = str(tmp_path / "store")
    st = TransactionalStore(spark, quads=None, path=loc)
    with st.write() as tx:
        tx.put(quads)
        tx.commit()
    with st.write() as tx:
        tx.update('INSERT DATA { <http://e/b> <http://e/p> "2" }')
        tx.commit()
    log = SnapshotStore(loc).log()
    assert len(log) == 2
    old, live = (os.path.join(loc, e["files"][0]) for e in log)
    assert os.path.isdir(old) and os.path.isdir(live)
    rc, out = _run(capsys, "tdbcompact", "--location", loc)
    assert rc == 0 and f"live: {log[1]['snapshot_id']}" in out
    assert "removed: 1" in out
    assert SnapshotStore(loc).log() == log[1:]
    assert not os.path.exists(old) and os.path.isdir(live)
    # the store still reads after compaction
    st2 = TransactionalStore(spark, quads=None, path=loc)
    assert st2.dataset().count() == 2
    # idempotent re-run
    rc, out = _run(capsys, "tdbcompact", "--location", loc)
    assert rc == 0 and "removed: 0" in out
    # missing pointer errors loudly
    import pytest as _p
    with _p.raises(SystemExit):
        _run(capsys, "tdbcompact", "--location", str(tmp_path / "nope"))


def test_shacl_parse(capsys, tmp_path):
    """shacl/shacl_parse.java: deterministic compiled-shape listing."""
    shp = tmp_path / "shapes.ttl"
    shp.write_text("""
@prefix sh: <http://www.w3.org/ns/shacl#> .
@prefix xsd: <http://www.w3.org/2001/XMLSchema#> .
@prefix ex: <http://e/> .
ex:PersonShape a sh:NodeShape ;
  sh:targetClass ex:Person ;
  sh:closed true ;
  sh:property [ sh:path ex:name ; sh:minCount 1 ;
                sh:datatype xsd:string ] ;
  sh:property [ sh:path ex:age ; sh:maxCount 1 ] .
""")
    rc, out = _run(capsys, "shacl", "--parse", "--shapes", str(shp))
    assert rc == 0
    assert "shape <http://e/PersonShape> [class=http://e/Person] closed" in out
    assert "minCount=1" in out and "maxCount=1" in out
    assert "datatype" in out
    # validating still requires --data
    import pytest as _p
    with _p.raises(SystemExit):
        _run(capsys, "shacl", "--shapes", str(shp))
