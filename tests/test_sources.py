"""Source scans: PubTator corpus (S1), MRCONSO/MRSTY (S2/S3), Ab3P (S4),
flat-document wrapping."""

from __future__ import annotations

from pyspark.sql import functions as F

from entity_linking_in_biomedical_spark.sources.loaders import wrap_flat_documents
from entity_linking_in_biomedical_spark.sources.pubtator import (
    build_entities,
    read_ab3p,
    read_mrconso,
    read_mrsty,
    read_pubtator,
)

PUBTATOR = """\
101|t|BRCA1 mutations in breast cancer
101|a|We studied BRCA1 carriers.
101\t0\t5\tBRCA1\tGene\tT028:C0376571
101\t19\t32\tbreast cancer\tDisease\tT191:C0006142

102|t|Plain title
102|a|No annotations here.
"""

MRCONSO = (
    "C0006142|ENG|x|x|x|x|x|x|x|x|x|x|x|x|Breast Cancer|x|x|x\n"
    "C0006142|ENG|x|x|x|x|x|x|x|x|x|x|x|x|breast carcinoma|x|x|x\n"
    "C0006142|FRE|x|x|x|x|x|x|x|x|x|x|x|x|cancer du sein|x|x|x\n"
    "C0376571|ENG|x|x|x|x|x|x|x|x|x|x|x|x|BRCA1|x|x|x\n"
)

MRSTY = (
    "C0006142|x|x|Neoplastic Process|x|x\n"
    "C0376571|x|x|Gene or Genome|x|x\n"
)

AB3P = """\
27395442
  BC|breast cancer|0.99
28160457
  EGFR|epidermal growth factor receptor|0.98
  TK|tyrosine kinase|0.95
"""


def test_read_pubtator(spark, tmp_path):
    p = tmp_path / "corpus.txt"
    # plus a title-only document and annotation lines with no title line
    p.write_text(
        PUBTATOR
        + "\n103|t|Title only\n"
        + "\n104\t0\t3\tfoo\tGene\tT028:C0000001\n"
        + "104\t4\t7\tbar\tGene\tT028:C0000002\n"
    )
    docs = read_pubtator(spark, str(p)).orderBy("doc_id")
    rows = {r["doc_id"]: r for r in docs.collect()}
    assert set(rows) == {"101", "102", "103"}
    t = rows["103"]["spans"]
    assert [(s["kind"], s["text"], s["offset"]) for s in t] == [
        ("text", "Title only", 0),
        ("text", "", len("Title only") + 1),
    ]
    assert rows["103"]["mention_cuis"] == []
    d = rows["101"]
    kinds = [s["kind"] for s in d["spans"]]
    assert kinds == ["text", "text", "mention", "mention"]
    assert d["spans"][2]["text"] == "BRCA1" and d["spans"][2]["offset"] == 0
    assert d["spans"][3]["text"] == "breast cancer" and d["spans"][3]["offset"] == 19
    assert d["mention_cuis"] == ["C0376571", "C0006142"]
    assert rows["102"]["mention_cuis"] == []


def _parse_pubtator_py(lines: list[str]) -> dict:
    """Single-node reference parse: doc_id -> (spans, mention_cuis)."""
    import re

    docs: dict = {}
    for line in lines:
        m = re.match(r"^(\d+)\|([ta])\|(.*)$", line)
        if m:
            docs.setdefault(m[1], {"t": None, "a": None, "ann": []})[m[2]] = m[3]
        elif re.match(r"^\d+\t", line):
            c = line.split("\t")
            docs.setdefault(c[0], {"t": None, "a": None, "ann": []})["ann"].append(
                (int(c[1]), int(c[2]), c[3], c[5].split(":")[-1])
            )
    out = {}
    for d, v in docs.items():
        if v["t"] is None:
            continue
        anns = sorted(v["ann"])
        spans = [
            ("text", v["t"], None, 0),
            ("text", v["a"] or "", None, len(v["t"]) + 1),
        ] + [("mention", surf, None, b) for b, _, surf, _ in anns]
        out[d] = (spans, [cui for *_, cui in anns])
    return out


def test_read_pubtator_matches_python_parse(spark, tmp_path):
    from entity_linking_in_biomedical_spark.sources.synthetic import (
        synth_pubtator_lines,
    )

    lines = synth_pubtator_lines(n_docs=200)
    p = tmp_path / "synth.txt"
    p.write_text("\n".join(lines) + "\n")
    got = {
        r["doc_id"]: ([tuple(s) for s in r["spans"]], list(r["mention_cuis"]))
        for r in read_pubtator(spark, str(p)).collect()
    }
    want = _parse_pubtator_py(lines)
    assert len(want) == 200
    assert got == want


def test_umls_scans_and_dictionary(spark, tmp_path):
    c = tmp_path / "MRCONSO.RRF"
    c.write_text(MRCONSO)
    s = tmp_path / "MRSTY.RRF"
    s.write_text(MRSTY)
    ents = build_entities(read_mrconso(spark, str(c)), read_mrsty(spark, str(s)))
    rows = {r["cui"]: r for r in ents.collect()}
    # ENG filter dropped the French synonym (src/utils.py:18 semantics)
    assert rows["C0006142"]["synonyms"] == ["Breast Cancer", "breast carcinoma"]
    assert rows["C0006142"]["sem_type"] == "Neoplastic Process"
    assert rows["C0376571"]["synonyms"] == ["BRCA1"]


def test_dictionary_txt_roundtrip(spark, tmp_path):
    """K2 sink in the reference's dictionary.txt format
    (cui||semtype|syn1|syn2...) and the matching S8 scan."""
    from entity_linking_in_biomedical_spark.sources.pubtator import (
        read_dictionary,
        write_dictionary,
    )

    c = tmp_path / "MRCONSO.RRF"
    c.write_text(MRCONSO)
    s = tmp_path / "MRSTY.RRF"
    s.write_text(MRSTY)
    ents = build_entities(read_mrconso(spark, str(c)), read_mrsty(spark, str(s)))
    out = tmp_path / "dictionary.txt"
    write_dictionary(ents, str(out))
    txt = out.read_text()
    assert (
        "C0006142||Neoplastic Process|Breast Cancer|breast carcinoma" in txt
    )
    assert not txt.endswith("\n")  # reference writes no trailing newline
    back = {r["cui"]: r for r in read_dictionary(spark, str(out)).collect()}
    orig = {r["cui"]: r for r in ents.collect()}
    assert set(back) == set(orig)
    for cui in orig:
        assert back[cui]["sem_type"] == (orig[cui]["sem_type"] or "")
        assert back[cui]["synonyms"] == orig[cui]["synonyms"]


def test_read_ab3p(spark, tmp_path):
    p = tmp_path / "ab3p.txt"
    p.write_text(AB3P)
    got = read_ab3p(spark, str(p)).orderBy("abbr").collect()
    assert [(r["doc_id"], r["abbr"], r["long_form"]) for r in got] == [
        ("27395442", "BC", "breast cancer"),
        ("28160457", "EGFR", "epidermal growth factor receptor"),
        ("28160457", "TK", "tyrosine kinase"),
    ]


def test_read_ab3p_multisplit_carry(spark, tmp_path):
    """Headers must carry across input splits: write many files (each
    becomes its own split/block), some containing only continuation
    rows, so the cross-block carry-in path is exercised."""
    d = tmp_path / "ab3p_many"
    d.mkdir()
    # file ordering = lexicographic path order = block order
    (d / "part-00.txt").write_text("D1\n  A1|alpha one|0.9\n")
    (d / "part-01.txt").write_text("  A2|alpha two|0.9\n")  # no header: carries D1
    (d / "part-02.txt").write_text("D2\n  B1|beta one|0.8\n")
    (d / "part-03.txt").write_text("  B2|beta two|0.8\n  B3|beta three|0.7\n")
    got = read_ab3p(spark, str(d)).orderBy("abbr").collect()
    assert [(r["doc_id"], r["abbr"], r["long_form"]) for r in got] == [
        ("D1", "A1", "alpha one"),
        ("D1", "A2", "alpha two"),
        ("D2", "B1", "beta one"),
        ("D2", "B2", "beta two"),
        ("D2", "B3", "beta three"),
    ]


def test_wrap_flat_documents(spark):
    flat = spark.createDataFrame([(7, "hello world", "en")], "doc_id bigint, text string, lang string")
    got = wrap_flat_documents(flat).collect()[0]
    assert got["doc_id"] == "7"
    assert len(got["spans"]) == 1
    assert got["spans"][0]["kind"] == "text" and got["spans"][0]["text"] == "hello world"
