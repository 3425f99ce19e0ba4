"""Compiled dictionary model: matchers + attributes + keywords.

Relational-first equivalent of the reference's ``Model`` (a dict of nested
tries plus a SQLite attribute store, /root/reference/pilsner/model.py:10):
the dictionary lives as flat records (synonyms / attrs / keywords — the same
long layouts the Spark engine materializes as DataFrames), and the compiled
artifact broadcast to executors is one :class:`TokenIndexedMatcher` per
normalization unit plus plain-dict attribute/keyword lookups.

Identifier spaces follow the reference exactly (SURVEY.md §1.1-6):
``line_id`` = 0-based dictionary row number; ``iid`` = dense internal entity
id in first-seen order of entity_id values (model.py:324-330); the source
``entity_id`` string is recoverable from attrs / the line->entity map.
"""

from __future__ import annotations

import dataclasses
import hashlib
import json
from dataclasses import dataclass, field
from typing import Dict, FrozenSet, List, Optional, Sequence, Set, Tuple

from pilsner_spark.core.dictionary import (
    DictRow,
    DictSpecs,
    FieldSpec,
    assign_internal_ids,
    compile_specs,
    fields_from_dicts,
    rows_from_lines,
)
from pilsner_spark.core.normalize import (
    BYPASS,
    NormalizerConfig,
    load_normalizer_xml,
    normalize,
)
from pilsner_spark.core.scan import TokenIndexedMatcher

AttrFilter = Dict[str, Set[str]]  # attr_name -> allowed/blocked values


@dataclass
class SynonymRecord:
    """One compiled dictionary row (the ``synonyms`` table row)."""

    line_id: int
    iid: int
    entity_id: str
    normalizer: str
    norm_label: str


@dataclass
class CompiledModel:
    word_separator: str = " "
    simple: bool = False
    normalizers: Dict[str, NormalizerConfig] = field(default_factory=dict)
    default_normalizer: str = ""
    normalizer_map: Dict[str, str] = field(default_factory=dict)
    synonyms: List[SynonymRecord] = field(default_factory=list)
    # line_id -> {attr_name: [values]}  (empty in simple mode)
    attrs: Dict[int, Dict[str, List[str]]] = field(default_factory=dict)
    # iid -> keyword token set (only entities with colliding synonyms,
    # unless disambiguate_all; utility.py:250-269)
    keywords: Dict[int, FrozenSet[str]] = field(default_factory=dict)
    line_iid: Dict[int, int] = field(default_factory=dict)
    line_entity: Dict[int, str] = field(default_factory=dict)
    matchers: Dict[str, TokenIndexedMatcher] = field(default_factory=dict)
    has_keywords: bool = False

    # -- construction ------------------------------------------------------

    def add_normalizer(self, name: str, source, default: bool = False) -> None:
        """Register a normalization unit (path, xml string, or config).

        The first unit added becomes the default, like model.py:209-210.
        """
        if isinstance(source, NormalizerConfig):
            cfg = source
        elif isinstance(source, str) and source.lstrip().startswith("<"):
            from pilsner_spark.core.normalize import normalizer_from_xml_string

            cfg = normalizer_from_xml_string(source)
        else:
            cfg = load_normalizer_xml(source)
        self.normalizers[name] = cfg
        self.normalizer_map.setdefault(name, name)
        if len(self.normalizers) == 1 or default:
            self.default_normalizer = name

    def _route_normalizer(self, tag: Optional[str]) -> str:
        """Pick the normalization unit for a dictionary row's tag column
        (model.py:344-351: mapped unit if the mapping resolves, else the
        default unit)."""
        if tag is not None and tag in self.normalizer_map:
            mapped = self.normalizer_map[tag]
            if mapped in self.normalizers:
                return mapped
        return self.default_normalizer

    def compile_rows(
        self,
        rows: Sequence[DictRow],
        include_keywords: bool = True,
        disambiguate_all: bool = False,
    ) -> "CompiledModel":
        """Compile parsed dictionary rows into matchers/attrs/keywords."""
        if not self.normalizers:
            self.add_normalizer("bypass", BYPASS)  # model.py:365-366
        self.line_iid = assign_internal_ids(rows)
        self.matchers = {
            name: TokenIndexedMatcher(word_separator=self.word_separator)
            for name in self.normalizers
        }
        self.synonyms = []
        norm_groups: Dict[str, Set[int]] = {}
        line_tokens: Dict[int, Set[str]] = {}
        for row in rows:
            unit = self._route_normalizer(row.normalizer_tag)
            norm_label = normalize(row.synonym, self.normalizers[unit], self.word_separator)
            iid = self.line_iid[row.line_number]
            self.synonyms.append(
                SynonymRecord(
                    line_id=row.line_number,
                    iid=iid,
                    entity_id=row.entity_id,
                    normalizer=unit,
                    norm_label=norm_label,
                )
            )
            self.line_entity[row.line_number] = row.entity_id
            self.matchers[unit].add(norm_label, row.line_number)
            if not self.simple:
                self.attrs[row.line_number] = dict(row.attrs)
            norm_groups.setdefault(norm_label, set()).add(iid)
            line_tokens[row.line_number] = set(norm_label.split(self.word_separator))
        if include_keywords:
            # entities whose normalized synonyms collide across entities get
            # the union of all their synonyms' tokens (utility.py:250-269)
            ambiguous: Set[int] = set()
            for iids in norm_groups.values():
                if len(iids) > 1 or disambiguate_all:
                    ambiguous.update(iids)
            acc: Dict[int, Set[str]] = {iid: set() for iid in ambiguous}
            for rec in self.synonyms:
                if rec.iid in acc:
                    acc[rec.iid].update(line_tokens[rec.line_id])
            self.keywords = {iid: frozenset(tokens) for iid, tokens in acc.items()}
            self.has_keywords = True
        return self

    # -- mutation (B17/B18 equivalents) -----------------------------------

    def remove_label(self, label: str) -> bool:
        """Drop a (normalized) label from every matcher (utility.py:103)."""
        hit = False
        for matcher in self.matchers.values():
            hit = matcher.remove(label) or hit
        return hit

    def ignore_label(self, label: str) -> bool:
        """Suppress a (normalized) label everywhere (utility.py:128-149)."""
        hit = False
        for matcher in self.matchers.values():
            hit = matcher.set_ignored(label) or hit
        return hit

    # -- attribute handling ------------------------------------------------

    def attrs_for_line(self, line_id: int, attrs_out: Optional[Sequence[str]] = None) -> Dict[str, List[str]]:
        """Attributes for one dictionary line; simple mode degrades to the
        bare entity id under the 'ID' key (utility.py:350-357)."""
        if self.simple:
            return {"ID": [self.line_entity[line_id]]}
        attrs = self.attrs.get(line_id, {})
        if attrs_out:
            wanted = set(attrs_out)
            return {k: v for k, v in attrs.items() if k in wanted}
        return attrs

    def _line_passes(self, line_id: int, include: AttrFilter, exclude: AttrFilter) -> bool:
        """Include/exclude admission for one line: values OR-ed within and
        across attributes, exclude subtracted (utility.py:358-369)."""
        attrs = self.attrs.get(line_id, {})
        if include:
            if not any(
                v in include.get(name, ()) for name, vals in attrs.items() for v in vals
            ):
                return False
        if exclude:
            if any(v in exclude.get(name, ()) for name, vals in attrs.items() for v in vals):
                return False
        return True

    def shard_matchers(self, n_shards: int) -> List[Dict[str, TokenIndexedMatcher]]:
        """B10 — the reference's ``item_limit`` trie sharding
        (utility.py:192-195), re-expressed for broadcast memory: split each
        unit's matcher into ``n_shards`` independent matchers by a stable
        hash of the label's first token, so a dictionary too large for one
        broadcast ships as several smaller ones scanned per pass. Whole
        first-token buckets move together (per-bucket longest-first order
        preserved); the scan layer unions matches across shards before
        span merge/reduction, exactly as the reference unions matches from
        its multiple tries (utility.py:438-517 + flatten_layers).

        Divergence class (shared with the reference's multi-trie union):
        greedy consumption is per-shard, so a label in another shard that
        starts inside a committed match and extends past it (e.g. labels
        {'a b', 'b c d'} on 'a b c d') is emitted by its own shard and can
        win reduce_spans, changing the surviving mention vs a single-shard
        scan. Parity with the single matcher is guaranteed only when no
        label starts inside and extends beyond another shard's match;
        test_sharded_scan_cross_shard_overlap pins the intended
        (reference-multi-trie) behavior on the divergent case."""
        shards: List[Dict[str, TokenIndexedMatcher]] = [
            {unit: TokenIndexedMatcher(word_separator=self.word_separator) for unit in self.matchers}
            for _ in range(n_shards)
        ]
        for unit, matcher in self.matchers.items():
            for first_tok, bucket in matcher.index.items():
                s = int(hashlib.md5(first_tok.encode("utf8")).hexdigest()[:8], 16) % n_shards
                tgt = shards[s][unit]
                tgt.index[first_tok] = bucket
                for entry in bucket:
                    tgt.by_label[entry.label] = entry
        return shards

    def filtered_matchers(self, attrs_where: Optional[dict]) -> Dict[str, TokenIndexedMatcher]:
        """Matchers restricted to dictionary lines admitted by *attrs_where*
        (``{'+': {...}, '-': {...}}``, utility.py:741-766).

        Constant-per-query attribute predicates are hoisted to a dictionary
        pre-filter: a filtered-out label simply is not in the automaton,
        which yields the same accepted spans as the reference's per-match
        rejection + shorter-alternative interplay (SURVEY.md §2.2 Q7),
        because admission never depends on the span's position.
        """
        if not attrs_where or self.simple:
            return self.matchers
        include = {k: set(v) for k, v in (attrs_where.get("+") or {}).items()}
        exclude = {k: set(v) for k, v in (attrs_where.get("-") or {}).items()}
        if not include and not exclude:
            return self.matchers
        filtered: Dict[str, TokenIndexedMatcher] = {}
        for unit, matcher in self.matchers.items():
            fm = TokenIndexedMatcher(word_separator=self.word_separator)
            for entry in matcher.by_label.values():
                kept = [n for n in entry.ids if self._line_passes(n, include, exclude)]
                if kept:
                    for n in kept:
                        fm.add(entry.label, n)
                    if entry.ignored:
                        fm.set_ignored(entry.label)
            filtered[unit] = fm
        return filtered

    # -- persistence (relational, not pickle) ------------------------------

    def to_tables(self) -> Dict[str, list]:
        """Flat-record view of the model — the rows the Spark layer writes as
        the synonyms/attrs/keywords/id_map tables (reference persists pickled
        tries + a SQLite file copy, model.py:94-141; here the tables ARE the
        model and matchers are rebuilt from them)."""
        return {
            "synonyms": [
                (r.line_id, r.iid, r.entity_id, r.normalizer, r.norm_label) for r in self.synonyms
            ],
            "attrs": [
                (n, self.line_iid[n], name, value)
                for n, attrs in sorted(self.attrs.items())
                for name, values in attrs.items()
                for value in values
            ],
            "keywords": [(iid, sorted(tokens)) for iid, tokens in sorted(self.keywords.items())],
            "id_map": sorted(self.line_iid.items()),
        }

    def fingerprint(self) -> str:
        """Content hash of the model, its identity in checkpoint keys: the
        engine config (separator, simple flag, routing, every normalizer),
        the synonym records and the keywords. Two compiles of the same rows
        give the same fingerprint. Attribute values are not hashed (entity
        resolution reads entity ids only); ``remove_label`` /
        ``ignore_label`` change only the matchers and are not covered."""
        content = {
            "word_separator": self.word_separator,
            "simple": self.simple,
            "default_normalizer": self.default_normalizer,
            "normalizer_map": self.normalizer_map,
            "normalizers": {name: dataclasses.asdict(cfg) for name, cfg in self.normalizers.items()},
            "synonyms": [(r.line_id, r.iid, r.entity_id, r.normalizer, r.norm_label) for r in self.synonyms],
            "keywords": sorted((iid, sorted(tokens)) for iid, tokens in self.keywords.items()),
            "has_keywords": self.has_keywords,
        }
        return hashlib.sha256(json.dumps(content, sort_keys=True).encode()).hexdigest()[:16]


def compile_model_from_file(
    filename: str,
    fields: Sequence,
    word_separator: str = " ",
    column_separator: str = "\t",
    column_enclosure: str = "",
    normalizers: Optional[Dict[str, object]] = None,
    normalizer_map: Optional[Dict[str, str]] = None,
    include_keywords: bool = True,
    disambiguate_all: bool = False,
    simple: bool = False,
) -> CompiledModel:
    """End-to-end compile from a delimited dictionary file (the reference's
    ``Utility.compile_model``, utility.py:275-310)."""
    field_specs: List[FieldSpec] = (
        fields_from_dicts(fields) if fields and isinstance(fields[0], dict) else list(fields)
    )
    specs: DictSpecs = compile_specs(field_specs)
    with open(filename, encoding="utf8") as f:
        lines = [line for line in f.read().split("\n") if line != ""]
    rows = rows_from_lines(lines, specs, column_separator, column_enclosure)
    model = CompiledModel(word_separator=word_separator, simple=simple)
    for name, source in (normalizers or {}).items():
        model.add_normalizer(name, source)
    if normalizer_map:
        model.normalizer_map = dict(normalizer_map)
    return model.compile_rows(
        rows, include_keywords=include_keywords, disambiguate_all=disambiguate_all
    )
