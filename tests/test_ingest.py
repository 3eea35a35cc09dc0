"""End-to-end ingest golden test: fixture FHIR bundles -> rewrite ->
rawstat -> the three fact pipelines, hand-checked against the reference's
semantics including every SURVEY §4.3 gotcha row.

Fixture design (FIXTURES.md §2):
  b1: male patient in 'Acton' (dim row 'Acton Town' -> F1 strip), two
      tracked conditions — one with NULL disease (-999), one duplicated
      (A4 dedup), plus one untracked code (IDs 0); a condition.subject
      reference to the patient (rewritten) and one dangling reference.
  b2: female patient, deceasedBoolean=true -> excluded from all facts.
  b3: patient with deceasedDateTime only (boolean NULL) -> deceased (F4).
  b4: bundle with NO patient -> rawstat row with empty id (gotcha #6).
  b5: 'other'-gender patient in unknown city, empty address covered by b4's
      patient-less shape; unknown city -> '' FIPS (gotcha #4).
  other/b1: SAME basename as nested/b1 in a sibling directory (bundle ids are
      scan-root-relative paths, so the two never collide) holding TWO
      patients — the last in entry order must win (bundle.go:84-97
      overwrites basestat per Patient).
"""

from __future__ import annotations

import gc
import json
import os
import shutil

import pytest
from pyspark.sql import functions as F

from bulkfhirloader_spark.functions.binding import per_jvm
from bulkfhirloader_spark.ingest import pipeline as ing
from bulkfhirloader_spark.operators import stats
from bulkfhirloader_spark.schemas import CORRUPT_RECORD_COL
from bulkfhirloader_spark.sinks import facts as sinks


def _bundle(entries):
    return {"resourceType": "Bundle", "type": "transaction", "entry": entries}


def _patient(full_url, pid="p", gender="male", birth="1980-06-01",
             deceased_bool=None, deceased_dt=None, city="Acton", zipc="01720"):
    r = {
        "resourceType": "Patient",
        "id": pid,
        "gender": gender,
        "birthDate": birth,
        "address": [{"city": city, "state": "MA", "postalCode": zipc}],
    }
    if deceased_bool is not None:
        r["deceasedBoolean"] = deceased_bool
    if deceased_dt is not None:
        r["deceasedDateTime"] = deceased_dt
    return {"fullUrl": full_url, "resource": r}


def _condition(full_url, system, code, subject=None, performer=None):
    r = {
        "resourceType": "Condition",
        "code": {"coding": [{"system": system, "code": code, "display": code}]},
    }
    if subject:
        r["subject"] = {"reference": subject}
    if performer:
        r["performer"] = [{"reference": ref} for ref in performer]
    return {"fullUrl": full_url, "resource": r}


SNOMED = "http://snomed.info/sct"


@pytest.fixture(scope="module")
def ingest_env(spark, tmp_path_factory):
    root = tmp_path_factory.mktemp("ingest")
    bdir = root / "bundles" / "nested"  # nested: exercises recursiveFileLookup
    bdir.mkdir(parents=True)

    bundles = {
        "b1": _bundle(
            [
                _patient("urn:uuid:pat1", gender="male", birth="1980-06-01"),
                _condition("urn:uuid:c1", SNOMED, "44054006", subject="urn:uuid:pat1",
                           performer=["urn:uuid:pat1", "urn:uuid:external"]),
                _condition("urn:uuid:c2", SNOMED, "38341003", subject="urn:uuid:pat1"),
                _condition("urn:uuid:c3", SNOMED, "38341003", subject="urn:uuid:pat1"),  # dup
                _condition("urn:uuid:c4", SNOMED, "99999999", subject="urn:uuid:dangling"),
            ]
        ),
        "b2": _bundle(
            [
                _patient("urn:uuid:pat2", gender="female", birth="1950-01-15",
                         deceased_bool=True),
                _condition("urn:uuid:c5", SNOMED, "44054006", subject="urn:uuid:pat2"),
            ]
        ),
        "b3": _bundle(
            [
                _patient("urn:uuid:pat3", gender="male", birth="1940-03-03",
                         deceased_dt="2015-07-01T00:00:00Z"),
            ]
        ),
        "b4": _bundle(
            [
                _condition("urn:uuid:c6", SNOMED, "44054006"),
            ]
        ),
        "b5": _bundle(
            [
                _patient("urn:uuid:pat5", gender="other", birth="2001-12-31",
                         city="Atlantis", zipc=""),
            ]
        ),
    }
    for name, b in bundles.items():
        (bdir / f"{name}.json").write_text(json.dumps(b))
    # non-json file must be ignored by the suffix filter (P4, main.go:219)
    (bdir / "README.txt").write_text("not a bundle")

    # same BASENAME as nested/b1.json in a sibling dir: distinct bundle ids
    # (scan-root-relative), plus the two-patient last-wins case
    odir = root / "bundles" / "other"
    odir.mkdir(parents=True)
    two_patients = _bundle(
        [
            _patient("urn:uuid:first", gender="male", birth="1980-06-01",
                     city="Acton"),
            _patient("urn:uuid:last", gender="female", birth="1990-02-02",
                     city="Boston", zipc="02108"),
        ]
    )
    (odir / "b1.json").write_text(json.dumps(two_patients))

    # dims (FIXTURES.md §3): 'Acton Town' exercises F1; hypertension's NULL
    # disease exercises F2 -> -999; diabetes maps to a real disease id.
    cousub = spark.createDataFrame(
        [("Acton Town", "017", "00100"), ("Boston", "025", "07000")],
        "cs_name string, ct_fips string, cs_fips string",
    )
    conddim = spark.createDataFrame(
        [
            (101, 11, "Diabetes", SNOMED, "44054006"),
            (102, None, "Hypertension", SNOMED, "38341003"),
        ],
        "condition_id int, disease_id int, condition_name string, "
        "code_system string, code string",
    )
    dim_dir = root / "dims"
    cousub.write.parquet(str(dim_dir / "cousub"))
    conddim.write.parquet(str(dim_dir / "conddim"))

    out = ing.run_pipeline(
        spark,
        str(root / "bundles"),
        str(dim_dir / "cousub"),
        str(dim_dir / "conddim"),
        str(root / "out"),
        as_of=F.lit("2020-01-01").cast("date"),
    )
    return {"root": root, "counters": out, "spark": spark}


def test_a5_bundle_counter(ingest_env):
    assert ingest_env["counters"]["bundles"] == 6


def test_bundle_id_with_encoded_chars_in_scan_root(spark, tmp_path):
    """input_file_name() is a percent-encoded URI: a scan root containing a
    space (or '+', which form-decoding would corrupt) must still yield
    scan-root-relative bundle ids, not the full encoded path."""
    bdir = tmp_path / "my dir" / "a+b"
    bdir.mkdir(parents=True)
    b = {"resourceType": "Bundle", "type": "transaction",
         "entry": [{"fullUrl": "urn:uuid:p",
                    "resource": {"resourceType": "Patient", "id": "x"}}]}
    (bdir / "nested").mkdir()
    (bdir / "nested" / "b1.json").write_text(json.dumps(b))
    ids = [r["bundle_id"]
           for r in ing.read_bundles(spark, str(bdir)).select("bundle_id").collect()]
    assert ids == ["nested/b1"]


def test_k1_resources_partitioned_by_collection(ingest_env, spark):
    res_dir = str(ingest_env["root"] / "out" / "resources")
    parts = {p.split("=")[1] for p in os.listdir(res_dir) if p.startswith("collection=")}
    assert parts == {"patients", "conditions"}
    back = spark.read.parquet(res_dir)
    assert back.count() == 12  # 6 patients + 6 conditions


def test_j3_reference_rewrite(ingest_env, spark):
    res_dir = str(ingest_env["root"] / "out" / "resources")
    conds = spark.read.parquet(res_dir).filter(F.col("collection") == "conditions")
    rows = {r["fullUrl"]: r for r in conds.collect()}

    # c1's subject must now be Patient/sha2(b1|urn:uuid:pat1)
    rewritten = rows["urn:uuid:c1"]["resource"]["subject"]["reference"]
    assert rewritten.startswith("Patient/") and len(rewritten) == len("Patient/") + 64
    # all conditions in b1 that point at pat1 agree on the new id
    assert rows["urn:uuid:c2"]["resource"]["subject"]["reference"] == rewritten
    # dangling reference left verbatim (bundle.go:184-189)
    assert rows["urn:uuid:c4"]["resource"]["subject"]["reference"] == "urn:uuid:dangling"
    # resource.id was reassigned to the deterministic id (main.go:264-275)
    assert rows["urn:uuid:c1"]["resource"]["id"] != "c1"
    # ARRAY-valued Reference path (r12, bundle.go:192-221 recurses
    # reflect.Slice): the intra-bundle performer element rewrites to the
    # same new id as the subject; the external one stays verbatim; and
    # conditions without a performer keep NULL (never an empty array)
    performers = rows["urn:uuid:c1"]["resource"]["performer"]
    assert [p["reference"] for p in performers] == [rewritten, "urn:uuid:external"]
    assert rows["urn:uuid:c2"]["resource"]["performer"] is None
    # the path lists are DERIVED from the schema — performer must be found
    # as an array path, not a scalar one
    assert "performer" in ing.REFERENCE_ARRAY_PATHS
    assert "performer" not in ing.REFERENCE_PATHS
    assert "subject" in ing.REFERENCE_PATHS


def test_rawstat_golden(ingest_env, spark):
    rs = spark.read.parquet(str(ingest_env["root"] / "out" / "rawstat"))
    rows = {r["bundle_id"]: r for r in rs.collect()}
    assert set(rows) == {
        "nested/b1", "nested/b2", "nested/b3", "nested/b4", "nested/b5",
        "other/b1",
    }

    b1 = rows["nested/b1"]
    assert b1["gender"] == "male"
    assert b1["age"] == 39  # 1980-06-01 -> 2020-01-01
    assert b1["agerange"] == 1  # gotcha #1
    assert b1["deceasedboolean"] is False
    assert b1["location"]["subcountyid_fips"] == "00100"  # 'Acton Town' F1-stripped
    assert b1["location"]["countyid_fips"] == "017"
    # A4: 4 condition rows -> conditions keeps all, unique sets dedup
    assert len(b1["conditions"]) == 4
    assert b1["uniqueconditions"] == [0, 101, 102]  # untracked -> 0
    assert b1["uniquediseases"] == [-999, 0, 11]  # NULL disease -> -999

    assert rows["nested/b2"]["deceasedboolean"] is True
    assert rows["nested/b3"]["deceasedboolean"] is True  # datetime-only (F4)

    b4 = rows["nested/b4"]  # gotcha #6: no patient -> empty id, still present
    assert b4["id"] == ""
    assert b4["gender"] is None
    # zero-value RawStats: agerange/age are Go ints without omitempty, and
    # bundle.go:90 only assigns 1 inside the Patient branch
    assert b4["agerange"] == 0
    assert b4["age"] == 0
    assert b4["uniqueconditions"] == [101]

    b5 = rows["nested/b5"]  # gotcha #4: unknown city -> '' FIPS, row kept
    assert b5["location"]["subcountyid_fips"] == ""
    assert b5["location"]["city"] == "Atlantis"

    # two-patient bundle: LAST in entry order wins (bundle.go:84-97)
    twin = rows["other/b1"]
    assert twin["gender"] == "female"
    assert twin["age"] == 29  # 1990-02-02 -> 2020-01-01
    assert twin["location"]["city"] == "Boston"
    assert twin["location"]["subcountyid_fips"] == "07000"


def test_facts_golden(ingest_env, spark):
    rs = spark.read.parquet(str(ingest_env["root"] / "out" / "rawstat"))

    pop = {(r["cs_fips"], r["age_id"]): r for r in stats.population_facts(rs).collect()}
    # alive: b1 (male, Acton), b4 (no patient -> '' fips, age_id 0, NULL
    # gender), b5 (other, '' fips, age_id 1).  b2/b3 deceased.
    assert pop[("00100", 1)]["pop"] == 1
    assert pop[("00100", 1)]["pop_male"] == 1
    assert pop[("", 1)]["pop"] == 1
    assert pop[("", 0)]["pop"] == 1  # patient-less b4: zero-value agerange
    assert pop[("", 1)]["pop_male"] == 0 and pop[("", 1)]["pop_female"] == 0
    assert pop[("", 0)]["pop_male"] == 0 and pop[("", 0)]["pop_female"] == 0
    # other/b1's surviving (last) patient: alive female in Boston
    assert pop[("07000", 1)]["pop"] == 1 and pop[("07000", 1)]["pop_female"] == 1

    dis = {(r["cs_fips"], r["disease_id"]): r for r in stats.disease_facts(rs).collect()}
    # diabetes (disease 11) from b1 (Acton) and patient-less b4 ('' fips —
    # conditions are appended regardless of patient, bundle.go:99-108);
    # 0 and -999 filtered, deceased b2 dropped.
    assert set(dis) == {("00100", 11), ("", 11)}
    assert dis[("00100", 11)]["pop"] == 1
    assert dis[("", 11)]["pop"] == 1

    con = {(r["cs_fips"], r["condition_id"]): r for r in stats.condition_facts(rs).collect()}
    # b1: 101, 102 (0 filtered); b4: 101 under '' fips
    assert set(con) == {("00100", 101), ("00100", 102), ("", 101)}


def test_k3_k4_truncate_before_load(ingest_env, spark):
    rs = spark.read.parquet(str(ingest_env["root"] / "out" / "rawstat"))
    facts = stats.population_facts(rs)
    path = str(ingest_env["root"] / "out" / "pop_facts")
    sinks.write_facts(facts, path)
    sinks.write_facts(facts, path)  # rerun must REPLACE, not append (K4)
    assert spark.read.parquet(path).count() == facts.count()


def test_cli_end_to_end(ingest_env, spark, capsys):
    """Entry point 1 (main.go:27-133) via the CLI: ingest + stats phases,
    fact outputs equal to calling the stats pipelines directly; a corrupt
    file is counted apart from the loaded bundles and reported."""
    from bulkfhirloader_spark import cli

    root = ingest_env["root"]
    bundles = root / "cli_bundles"
    shutil.copytree(root / "bundles", bundles)
    (bundles / "bad.json").write_text('{"resourceType": "Bundle", "entry": [')
    res = cli.main([
        "--path", str(bundles),
        "--cousub-dim", str(root / "dims" / "cousub"),
        "--condition-dim", str(root / "dims" / "conddim"),
        "--out", str(root / "cli_out"),
        "--facts-out", str(root / "cli_facts"),
        "--as-of", "2020-01-01",
        "--reset",
        "--debug",
    ])
    assert res["bundles"] == 6
    assert res["corrupt_bundles"] == 1
    assert "(1 corrupt files quarantined)" in capsys.readouterr().out
    rs = spark.read.parquet(str(root / "cli_out" / "rawstat"))
    pop_direct = {tuple(r) for r in stats.population_facts(rs).collect()}
    pop_cli = {
        tuple(r)
        for r in spark.read.parquet(str(root / "cli_facts" / "pop_facts")).collect()
    }
    assert pop_cli == pop_direct
    for t in ("disease_facts", "condition_facts"):
        assert spark.read.parquet(str(root / "cli_facts" / t)).count() > 0


def test_k3_jdbc_option_plumbing(ingest_env, spark):
    """No database exists in the sandbox, so K3's production path is checked
    at the option layer: the writer must carry truncate-not-recreate (K4),
    the COPY-analog batch size, and caller credentials, and the configured
    writer must build cleanly (save() would need a live JDBC url)."""
    opts = sinks.jdbc_write_options(
        "jdbc:postgresql://localhost/synth",
        "synth_ma.synth_pop_facts",
        batchsize=5000,
        properties={"user": "synth"},
    )
    assert opts["truncate"] == "true"
    assert opts["batchsize"] == "5000"
    assert opts["dbtable"] == "synth_ma.synth_pop_facts"
    assert opts["user"] == "synth"
    rs = spark.read.parquet(str(ingest_env["root"] / "out" / "rawstat"))
    facts = stats.population_facts(rs)
    facts.write.format("jdbc").options(**opts).mode("overwrite")  # builds


def test_k3_k4_jdbc_roundtrip_embedded_derby(ingest_env, spark, tmp_path):
    """K3's production path against a REAL JDBC database: Spark ships an
    embedded Derby (its Hive-metastore backend), so the full write path —
    CREATE on first load, TRUNCATE-not-recreate + batched INSERT on rerun
    (K4, db.go:43-59/134-166) — and a read-back comparison run in-process.
    Embedded Derby is same-JVM only, which local[*] satisfies; production
    targets Postgres with the identical option set."""
    url = f"jdbc:derby:{tmp_path}/factsdb;create=true"
    props = {"driver": "org.apache.derby.jdbc.EmbeddedDriver"}
    rs = spark.read.parquet(str(ingest_env["root"] / "out" / "rawstat"))
    facts = stats.population_facts(rs)
    sinks.write_facts_jdbc(facts, url, "pop_facts", properties=props)
    sinks.write_facts_jdbc(facts, url, "pop_facts", properties=props)  # K4
    back = spark.read.format("jdbc").options(
        url=url, dbtable="pop_facts", **props
    ).load()
    assert {tuple(r) for r in back.collect()} == {tuple(r) for r in facts.collect()}


def test_streaming_ingest_available_now(ingest_env, spark):
    from bulkfhirloader_spark.streaming import stream_ingest_available_now

    out = str(ingest_env["root"] / "stream_out")
    bundles = str(ingest_env["root"] / "bundles")
    stream_ingest_available_now(spark, bundles, out)
    first = spark.read.parquet(out + "/resources").count()
    assert first == 12
    # second run: checkpoint marks every file done -> no new rows (the
    # exactly-once property the reference lacks)
    stream_ingest_available_now(spark, bundles, out)
    assert spark.read.parquet(out + "/resources").count() == first


def test_corrupt_bundle_quarantine(spark, tmp_path):
    """A malformed .json file must not fail the load OR silently become an
    empty bundle (the reference ignores the Unmarshal error, main.go:255):
    it lands in out/quarantine with its raw text, is excluded from the A5
    count and from every sink, and the good bundles are unaffected."""
    bdir = tmp_path / "bundles"
    bdir.mkdir()
    good = {
        "resourceType": "Bundle",
        "type": "transaction",
        "entry": [
            {"fullUrl": "urn:uuid:p1",
             "resource": {"resourceType": "Patient", "id": "x",
                          "gender": "male", "birthDate": "1980-01-01"}},
        ],
    }
    (bdir / "good.json").write_text(json.dumps(good))
    (bdir / "bad.json").write_text('{"resourceType": "Bundle", "entry": [')
    cousub = spark.createDataFrame(
        [("Boston", "025", "07000")],
        "cs_name string, ct_fips string, cs_fips string",
    )
    conddim = spark.createDataFrame(
        [(101, 11, "Diabetes", SNOMED, "44054006")],
        "condition_id int, disease_id int, condition_name string, "
        "code_system string, code string",
    )
    cousub.write.parquet(str(tmp_path / "cousub"))
    conddim.write.parquet(str(tmp_path / "conddim"))

    out = ing.run_pipeline(
        spark,
        str(bdir),
        str(tmp_path / "cousub"),
        str(tmp_path / "conddim"),
        str(tmp_path / "out"),
        as_of=F.lit("2020-01-01").cast("date"),
    )
    assert out["bundles"] == 1
    assert out["corrupt_bundles"] == 1
    quarantined = spark.read.parquet(str(tmp_path / "out" / "quarantine")).collect()
    assert [r["bundle_id"] for r in quarantined] == ["bad"]
    assert quarantined[0]["raw_text"].startswith('{"resourceType"')
    # the bad file reached no sink
    rawstat = spark.read.parquet(str(tmp_path / "out" / "rawstat"))
    assert [r["id"] for r in rawstat.select("id").collect()] != []
    assert rawstat.filter(F.col("bundle_id") == "bad").count() == 0


@pytest.fixture(scope="module")
def edge_env(spark, tmp_path_factory):
    """One load over the edge cases the rawstat projection must keep: two
    bundles with no entries, and dims that repeat a key.  'Acton' and
    'Acton Town' are one name after the F1 strip; (SNOMED, 44054006)
    appears twice in the condition dim."""
    root = tmp_path_factory.mktemp("edges")
    bdir = root / "bundles"
    bdir.mkdir()
    (bdir / "empty.json").write_text(json.dumps(_bundle([])))
    (bdir / "noentry.json").write_text(
        json.dumps({"resourceType": "Bundle", "type": "transaction"}))
    (bdir / "acton.json").write_text(json.dumps(_bundle([
        _patient("urn:uuid:p", city="Acton"),
        _condition("urn:uuid:c", SNOMED, "44054006", subject="urn:uuid:p"),
    ])))
    spark.createDataFrame(
        [("Acton Town", "017", "00200"), ("Acton", "017", "00100")],
        "cs_name string, ct_fips string, cs_fips string",
    ).write.parquet(str(root / "cousub"))
    spark.createDataFrame(
        [(102, None, "Diabetes (dup)", SNOMED, "44054006"),
         (101, 11, "Diabetes", SNOMED, "44054006")],
        "condition_id int, disease_id int, condition_name string, "
        "code_system string, code string",
    ).write.parquet(str(root / "conddim"))
    counters = ing.run_pipeline(
        spark, str(bdir), str(root / "cousub"), str(root / "conddim"),
        str(root / "out"), as_of=F.lit("2020-01-01").cast("date"),
    )
    rawstat = spark.read.parquet(str(root / "out" / "rawstat"))
    return counters, rawstat


def test_bundle_without_entries_gets_rawstat_row(edge_env):
    """SURVEY §4.3 #6: the reference inserts the stat unconditionally
    (bundle.go:122-124), so a bundle with `"entry": []` or no `entry` at
    all still gets its zero-value row, and A5 counts match rawstat rows."""
    counters, rawstat = edge_env
    rows = {r["bundle_id"]: r for r in rawstat.collect()}
    assert counters["bundles"] == len(rows) == 3
    for bid in ("empty", "noentry"):
        r = rows[bid]
        assert (r["id"], r["agerange"], r["age"]) == ("", 0, 0)
        assert r["conditions"] == []
        assert r["uniqueconditions"] == [] and r["uniquediseases"] == []


def test_cousub_dim_duplicate_name_matches_once(edge_env):
    """'Acton' and 'Acton Town' collide after the F1 strip: the bundle
    keeps one rawstat row and one population fact, and the smallest
    (ct_fips, cs_fips) wins."""
    _counters, rawstat = edge_env
    acton = rawstat.filter(F.col("bundle_id") == "acton").collect()
    assert len(acton) == 1
    assert acton[0]["location"]["subcountyid_fips"] == "00100"
    pop = stats.population_facts(rawstat).filter(F.col("cs_fips") == "00100").collect()
    assert [r["pop"] for r in pop] == [1]


def test_condition_dim_duplicate_code_matches_once(edge_env):
    """A repeated (code_system, code) in the condition dim maps the
    Condition once, to the smallest (condition_id, disease_id)."""
    _counters, rawstat = edge_env
    (acton,) = rawstat.filter(F.col("bundle_id") == "acton").collect()
    assert [(c["conditionid"], c["diseaseid"]) for c in acton["conditions"]] == [(101, 11)]
    assert acton["uniqueconditions"] == [101]
    assert acton["uniquediseases"] == [11]


def _build_load(spark, root, as_of):
    """One load's DataFrames, built but not run: the resource entries, the
    rawstat rows and the three facts over them."""
    bundles = ing.read_bundles(spark, str(root / "bundles"), capture_corrupt=True)
    good = bundles.filter(F.col(CORRUPT_RECORD_COL).isNull()).drop(CORRUPT_RECORD_COL)
    entries = ing.rewrite_references(ing.assign_ids(ing.explode_entries(good)))
    rawstat = ing.derive_rawstat(
        good,
        ing.load_cousub_dim(spark, str(root / "dims" / "cousub")),
        ing.load_condition_dim(spark, str(root / "dims" / "conddim")),
        as_of,
    )
    return [entries, rawstat, stats.population_facts(rawstat),
            stats.disease_facts(rawstat), stats.condition_facts(rawstat)]


def test_load_build_round_trip_budget(ingest_env, spark, monkeypatch):
    """Building a load's DataFrames again in a session reuses the fixed
    expression trees: the Py4J round trips stay O(1) in the plan size
    (about 5,600 when every call rebuilt every Column node)."""
    from py4j.clientserver import ClientServerConnection

    root = ingest_env["root"]
    _build_load(spark, root, F.lit("2020-01-01").cast("date"))
    send = ClientServerConnection.send_command
    calls = []

    def counting(self, command):
        calls.append(command)
        return send(self, command)

    gc.collect()
    monkeypatch.setattr(ClientServerConnection, "send_command", counting)
    built = _build_load(spark, root, F.lit("2021-01-01").cast("date"))
    monkeypatch.undo()
    assert len(calls) <= 1500, len(calls)
    assert len(built[1].collect()) == 6


@pytest.fixture(scope="module")
def two_bundles(spark, tmp_path_factory):
    """One bundle with a tracked Condition, one with a Patient only."""
    root = tmp_path_factory.mktemp("twobundles")
    (root / "sick.json").write_text(json.dumps(_bundle([
        _patient("urn:uuid:p1", birth="1980-06-01", city="Boston"),
        _condition("urn:uuid:c1", SNOMED, "44054006", subject="urn:uuid:p1"),
    ])))
    (root / "well.json").write_text(json.dumps(_bundle([
        _patient("urn:uuid:p2", birth="1990-06-01", city="Boston"),
    ])))
    cousub = spark.createDataFrame(
        [("Boston", "025", "07000")], "cs_name string, ct_fips string, cs_fips string")
    return ing.read_bundles(spark, str(root)), cousub


def _conddim(spark, rows):
    return spark.createDataFrame(
        rows, "condition_id int, disease_id int, code_system string, code string")


def test_derive_rawstat_calls_keep_their_own_dim_and_as_of(spark, two_bundles):
    """The fixed trees are shared, the per-call values are not: two
    derivations built side by side, with different condition dims and
    as_of dates, each return their own ids and ages."""
    bundles, cousub = two_bundles
    first = ing.derive_rawstat(
        bundles, cousub, _conddim(spark, [(101, 11, SNOMED, "44054006")]),
        F.lit("2020-01-01").cast("date"))
    second = ing.derive_rawstat(
        bundles, cousub, _conddim(spark, [(201, 21, SNOMED, "44054006")]),
        F.lit("2030-01-01").cast("date"))
    for df, ids, ages in ((first, (101, 11), (39, 29)), (second, (201, 21), (49, 39))):
        rows = {r["bundle_id"]: r for r in df.collect()}
        (c,) = rows["sick"]["conditions"]
        assert (c["conditionid"], c["diseaseid"]) == ids
        assert (rows["sick"]["uniqueconditions"], rows["sick"]["uniquediseases"]) == (
            [ids[0]], [ids[1]])
        assert (rows["sick"]["age"], rows["well"]["age"]) == ages


def test_empty_condition_dim_maps_every_condition_to_zero(spark, two_bundles):
    """A zero-row condition dim gives an empty `_cond_map`: every Condition
    gets the zero-value ids (0, 0), and each bundle still has one row."""
    bundles, cousub = two_bundles
    rawstat = ing.derive_rawstat(bundles, cousub, _conddim(spark, []))
    rows = {r["bundle_id"]: r for r in rawstat.collect()}
    assert len(rows) == 2
    (c,) = rows["sick"]["conditions"]
    assert (c["code"], c["conditionid"], c["diseaseid"]) == ("44054006", 0, 0)
    assert rows["sick"]["uniqueconditions"] == [0]
    assert rows["well"]["conditions"] == []


def test_per_jvm_rebuilds_for_another_gateway(monkeypatch):
    """per_jvm builds once per (gateway, args) and rebuilds when the
    gateway object changes, even for a stand-in that compares equal."""
    from pyspark import SparkContext

    class EqualGateway:
        def __eq__(self, other):
            return True

        __hash__ = object.__hash__

    builds = []

    @per_jvm
    def tree(n):
        builds.append(n)
        return object()

    one = tree(1)
    assert tree(1) is one and builds == [1]
    assert tree(2) is not one and builds == [1, 2]
    monkeypatch.setattr(SparkContext, "_gateway", EqualGateway())
    assert tree(1) is not one and builds == [1, 2, 1]
    assert tree(1) is tree(1) and builds == [1, 2, 1]
    monkeypatch.undo()
    assert tree(1) is not one and builds == [1, 2, 1, 1]


def test_mongo_write_option_surface_pinned():
    """No Mongo endpoint exists in the sandbox, so the production K1/K2
    document-sink path is OPTION PLUMBING ONLY (SCALE.md).  What CAN be
    pinned without a server: the exact option keys/values handed to the
    public Mongo Spark Connector — a typo'd option name silently no-ops in
    Spark's datasource options map, so this test is the tripwire."""
    from bulkfhirloader_spark.sinks.facts import mongo_write_options

    opts = mongo_write_options("mongodb://h:27017", "fhir", "patients")
    assert opts == {
        "connection.uri": "mongodb://h:27017",
        "database": "fhir",
        "collection": "patients",
        "ordered": "false",  # bundle.go:111-120 SetOrdered(false) parity
        "maxBatchSize": "512",
    }
    ordered = mongo_write_options("u", "d", "c", ordered=True, max_batch_size=100)
    assert ordered["ordered"] == "true" and ordered["maxBatchSize"] == "100"


def test_mongo_routed_write_end_to_end_via_docstore_stub(spark, tmp_path):
    """K1/K2 routed bulk write exercised END-TO-END through the
    filedocstore Python Data Source (the embeddable Mongo-shaped sink the
    r7 verdict asked for): the IDENTICAL option surface flows through
    Spark's writer machinery — the stub hard-fails on any missing option,
    so a renamed/typo'd key can no longer silently no-op — and the
    manifest proves maxBatchSize bounded every executor flush.  Only the
    format name differs from production (format='mongodb')."""
    import json as _json

    from bulkfhirloader_spark.sinks.docstore_stub import FileDocStoreDataSource
    from bulkfhirloader_spark.sinks.facts import write_resources_mongo

    spark.dataSource.register(FileDocStoreDataSource)
    entries = spark.createDataFrame(
        [(f"id{i}", "patients" if i % 3 else "conditions", f'{{"n":{i}}}')
         for i in range(40)],
        "resource_id string, collection string, body string",
    ).repartition(4)
    root = str(tmp_path / "store")
    write_resources_mongo(
        entries, f"docstore://{root}", "fhir", format="filedocstore"
    )

    docs, manifests = {}, {}
    for coll in ("patients", "conditions"):
        d = f"{root}/fhir/{coll}"
        manifests[coll] = _json.load(open(f"{d}/_manifest.json"))
        docs[coll] = [
            _json.loads(line)
            for f in sorted(os.listdir(d)) if f.endswith(".jsonl")
            for line in open(f"{d}/{f}")
        ]
    # routing: every doc in exactly the right collection, none lost
    assert sorted(r["resource_id"] for r in docs["patients"]) == sorted(
        f"id{i}" for i in range(40) if i % 3
    )
    assert sorted(r["resource_id"] for r in docs["conditions"]) == sorted(
        f"id{i}" for i in range(40) if i % 3 == 0
    )
    # the collection column was routing metadata, not document payload
    assert all("collection" not in r for r in docs["patients"])
    # option plumbing: unordered bulk insert, batch bound honored
    for coll, m in manifests.items():
        assert m["ordered"] is False and m["maxBatchSize"] == 512
        assert m["n_docs"] == len(docs[coll])
        assert all(0 < s <= 512 for s in m["batch_sizes"])

    # staged attempt files were all published — no staging residue
    for coll in ("patients", "conditions"):
        assert not os.path.exists(f"{root}/fhir/{coll}/_staging")

    # a second append save must EXTEND the manifest history, not erase it
    write_resources_mongo(
        entries.where("resource_id in ('id1', 'id3')"),  # one per collection
        f"docstore://{root}", "fhir", format="filedocstore",
    )
    for coll in ("patients", "conditions"):
        m2 = _json.load(open(f"{root}/fhir/{coll}/_manifest.json"))
        assert m2["n_saves"] == 2
        assert m2["n_docs"] > manifests[coll]["n_docs"]
        assert m2["n_docs"] == sum(m2["batch_sizes"])

    # mode("overwrite") replaces documents AND manifest history (the r8
    # review: it used to silently append with a merged multi-save manifest)
    (
        entries.where("resource_id = 'id2'").drop("collection")
        .write.format("filedocstore")
        .options(**{
            "connection.uri": f"docstore://{root}", "database": "fhir",
            "collection": "patients", "ordered": "false", "maxBatchSize": "512",
        })
        .mode("overwrite")
        .save()
    )
    d = f"{root}/fhir/patients"
    m3 = _json.load(open(f"{d}/_manifest.json"))
    assert m3["n_saves"] == 1 and m3["n_docs"] == 1
    over_docs = [
        _json.loads(line)
        for f in sorted(os.listdir(d)) if f.endswith(".jsonl")
        for line in open(f"{d}/{f}")
    ]
    assert [r["resource_id"] for r in over_docs] == ["id2"]

    # concurrent saves stage under per-save directories: a second writer's
    # staged files survive another writer's commit-time cleanup
    from bulkfhirloader_spark.sinks.docstore_stub import FileDocStoreWriter
    from pyspark.sql.types import StructType as _St

    opts = {
        "connection.uri": f"docstore://{root}", "database": "fhir",
        "collection": "patients", "ordered": "false", "maxBatchSize": "512",
    }
    w1 = FileDocStoreWriter(dict(opts), _St([]))
    w2 = FileDocStoreWriter(dict(opts), _St([]))
    assert w1._staging() != w2._staging()

    # a save missing a required option must FAIL, not no-op
    import pytest as _pytest

    with _pytest.raises(Exception, match="filedocstore: required"):
        (
            entries.limit(1).drop("collection")
            .write.format("filedocstore")
            .options(**{"connection.uri": f"docstore://{root}", "database": "fhir"})
            .mode("append")
            .save()
        )
