"""Golden tests for dictionary compile + scan + parse.

Every expectation below is literal from the reference's own test suite
(/root/reference/test/ut_utility.py, ut_model.py) or its example
(misc/example/example.py:79-93), re-encoded against this engine's API.
"""

import os

import pytest
from conftest import CUSTOM_XML, DEFAULT_XML, FIXTURES, SAMPLE_FIELDS, build_sample_model, sample_model_from_lines

from pilsner_spark.core.model import compile_model_from_file
from pilsner_spark.core.parse import extract_mentions, parse, reduce_spans
from pilsner_spark.core.scan import TokenIndexedMatcher
from pilsner_spark.sources.sample_dictionary import SAMPLE_DICTIONARY_LINES


# -- compile side --------------------------------------------------------


def test_internal_id_assignment(sample_model):
    # golden: ut_utility.py:147-157 (first-seen order: entity2 -> 0, entity1 -> 1)
    assert sample_model.line_iid == {0: 0, 1: 0, 2: 0, 3: 1, 4: 1, 5: 1, 6: 0, 7: 1, 8: 1}


def test_compiled_synonyms(sample_model):
    # golden trie content ut_utility.py:219 re-expressed as (unit, norm, ids)
    got = {}
    for rec in sample_model.synonyms:
        got.setdefault((rec.normalizer, rec.norm_label), []).append(rec.line_id)
    assert got == {
        ("t1", "awesome white refrigera tors"): [0],
        ("t1", "awesome white refrigeratorx"): [1],
        ("t2", "conflicting refrigerator"): [2, 8],
        ("t2", "awesome refrigerators"): [3],
        ("t1", "awesome white refrigerator"): [4],
        ("t2", "awwsome refrigerator"): [5],
        ("t2", "it"): [6],
        ("t2", "o"): [7],
    }


def test_model_fingerprint_tracks_the_dictionary(sample_model):
    """The fingerprint is the model's checkpoint identity: equal for two
    compiles of the same rows (through the file and the in-memory paths),
    different for another dictionary under the same normalizers."""
    lines = SAMPLE_DICTIONARY_LINES
    same = sample_model_from_lines(lines)
    assert same.fingerprint() == sample_model_from_lines(lines).fingerprint() == sample_model.fingerprint()
    for other in (lines[:-1], [lines[0].replace("entity2", "entity3")] + lines[1:]):
        changed = sample_model_from_lines(other)
        assert changed.normalizers == same.normalizers and changed.normalizer_map == same.normalizer_map
        assert changed.fingerprint() != same.fingerprint()


def test_keywords(sample_model):
    # golden: ut_utility.py:222 (compiled-model keywords)
    assert sample_model.keywords == {
        0: frozenset({"refrigerator", "tors", "it", "refrigera", "white", "conflicting", "awesome", "refrigeratorx"}),
        1: frozenset({"refrigerator", "refrigerators", "white", "o", "conflicting", "awwsome", "awesome"}),
    }


def test_attrs_melt(sample_model):
    # golden: ut_utility.py:241 (line 8 attributes; list attrs exploded+deduped)
    assert sample_model.attrs_for_line(8) == {
        "entity_id": ["entity1"],
        "normalizer": ["tokenizer2"],
        "some_attribute": ["A", "B", "C"],
    }


# -- scan side -----------------------------------------------------------


def test_scan_basic(sample_model):
    # golden: ut_utility.py:257-263 (t1 layer only)
    matches = sample_model.matchers["t1"].scan("this is awesome white refrigerator , and this is not")
    assert matches == [([4], "awesome white refrigerator", 8, 34)]


def test_scan_word_boundaries():
    m = TokenIndexedMatcher()
    m.add("it", 1)
    m.add("o", 2)
    # no match inside words ('this' contains 'it'? no word boundary anywhere)
    assert m.scan("this fits bit") == []
    assert m.scan("o it") == [([2], "o", 0, 1), ([1], "it", 2, 4 - 1)]  # EOS quirk: end = len-1


def test_scan_longest_wins_with_fallback():
    m = TokenIndexedMatcher()
    m.add("alpha", 1)
    m.add("alpha beta gamma", 2)
    # longer candidate fails -> shorter committed (utility.py:486-497)
    assert m.scan("alpha beta delta x") == [([1], "alpha", 0, 5)]
    # longer candidate succeeds -> single longest match
    assert m.scan("alpha beta gamma x") == [([2], "alpha beta gamma", 0, 16)]


def test_scan_resume_after_failed_multiword_walk():
    m = TokenIndexedMatcher()
    m.add("big red cat", 1)
    m.add("red", 2)
    # walk 'big red ...' fails; resume right after the first crossed
    # separator finds 'red' (temporary_index semantics, utility.py:498-503)
    assert m.scan("big red dog") == [([2], "red", 4, 7)]


def test_scan_ignore(sample_model):
    # golden: ut_utility.py:414-423
    model = build_sample_model()
    text = "this is awesome white refrigerator hey hey"
    assert parse(model, text) == {
        (8, 34): {"entity_id": {"entity1"}, "normalizer": {"tokenizer1"}, "some_attribute": {"A", "B", "C"}}
    }
    model.ignore_label("awesome white refrigerator")
    assert parse(model, text) == {}


# -- parse side ----------------------------------------------------------


def test_parse_golden(sample_model):
    # golden: ut_utility.py:402-412 — the flagship end-to-end expectation,
    # including context disambiguation of 'conflicting refrigerator'
    text = "this is awwsome white refrigerator o refrigerator, is it tors not conflicting refrigerator hey"
    assert parse(sample_model, text) == {
        (8, 34): {"entity_id": {"entity1"}, "normalizer": {"tokenizer2"}, "some_attribute": {"C", "B", "A"}},
        (35, 36): {"entity_id": {"entity1"}, "normalizer": {"tokenizer2"}, "some_attribute": {"C", "B", "A"}},
        (54, 56): {"entity_id": {"entity2"}, "normalizer": {"tokenizer2"}, "some_attribute": {"C", "B", "A"}},
        (66, 90): {"entity_id": {"entity2"}, "normalizer": {"tokenizer2"}, "some_attribute": {"D", "E"}},
    }


def test_parse_simple_model():
    # golden: ut_utility.py:425-430
    model = build_sample_model(simple=True)
    assert parse(model, "this is awesome white refrigerator hey hey") == {(8, 34): {"ID": {"entity1"}}}


def test_parse_reserved_chars():
    # golden: ut_utility.py:432-437
    model = build_sample_model(simple=True)
    assert parse(model, "this is awesome\x03 white refrigerator hey hey") == {(8, 35): {"ID": {"entity1"}}}


def test_reduce_spans_golden():
    # golden: ut_utility.py:396-400
    assert reduce_spans({(1, 2), (3, 8), (1, 6), (2, 3)}) == [(1, 6)]


def test_example_attr_filtering():
    # golden: misc/example/example.py:79-93 — habitat filter excludes
    # 'little mouse'; recognized: big eagle, danio rerio, water lily
    model = compile_model_from_file(
        os.path.join(FIXTURES, "living_things.txt"),
        fields=[
            {"name": "type", "include": True, "delimiter": None, "id_flag": False, "normalizer_flag": True, "value_flag": False},
            {"name": "id", "include": True, "delimiter": None, "id_flag": True, "normalizer_flag": False, "value_flag": False},
            {"name": "label", "include": True, "delimiter": None, "id_flag": False, "normalizer_flag": False, "value_flag": True},
            {"name": "habitat", "include": True, "delimiter": ",", "id_flag": False, "normalizer_flag": False, "value_flag": False},
        ],
        normalizers={"default": DEFAULT_XML, "custom": CUSTOM_XML},
        normalizer_map={"animal": "default", "plant": "custom"},
        include_keywords=True,
    )
    text = (
        "\nLittle mouse is not recognized and is not frightened by big scary eagle.\n"
        "Daniorerio also does not care much about water lilies, though both are recognized.\n"
    )
    result = parse(model, text, attrs_where={"+": {"habitat": {"air", "ocean"}}}, attrs_out=["type"])
    recognized = {text[b:e] for (b, e) in result}
    assert "big scary eagle" in recognized  # 'big eagle' matched across removed 'scary'
    assert "Daniorerio" in recognized
    assert "water lilies" in recognized
    assert not any("mouse" in s.lower() for s in recognized)
    assert all(set(v) == {"animal"} or set(v) == {"plant"} for span in result.values() for v in span.values())


def test_extract_mentions(sample_model):
    text = "this is awwsome white refrigerator o refrigerator, is it tors not conflicting refrigerator hey"
    mentions = extract_mentions(sample_model, text)
    assert [(m.begin, m.end, m.entity_ids) for m in mentions] == [
        (8, 34, ["entity1"]),
        (35, 36, ["entity1"]),
        (54, 56, ["entity2"]),
        (66, 90, ["entity2"]),
    ]
