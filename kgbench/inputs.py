"""Seeded inputs. The engine sees only the files written here.

Every input is a pure function of the seed: transcript parquet from the
engine's synthetic generator, an N-Quads dump rendered from the oracle's
triples, and SPARQL read queries over the closed vocabulary.
"""

from __future__ import annotations

import os
import random
from dataclasses import dataclass
from functools import cached_property

import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

from hbase_rdf_spark.functions.oracle import emit_reference_triples
from hbase_rdf_spark.sources.synthetic import canonical_entities, transcripts_pdf

XSD_INTEGER = "http://www.w3.org/2001/XMLSchema#integer"

# conversation-id ranges keep the roles of each workload apart
BUILD_OFFSET = 0
SEED_SLICE_OFFSET = 1_000_000  # appended once in set-up; re-offer pool
FRESH_OFFSET = 2_000_000  # fresh conversations of the append slices


def write_parquet(pdf: pd.DataFrame, path: str) -> None:
    os.makedirs(path, exist_ok=True)
    pq.write_table(
        pa.Table.from_pandas(pdf, preserve_index=False),
        os.path.join(path, "part-0.parquet"),
        coerce_timestamps="us", allow_truncated_timestamps=True,
    )


@dataclass
class Transcripts:
    """A transcript table on disk plus its oracle triples."""

    path: str
    pdf: pd.DataFrame

    @cached_property
    def oracle(self) -> pd.DataFrame:
        return emit_reference_triples(self.pdf)

    @property
    def turns(self) -> int:
        return len(self.pdf)

    @cached_property
    def conv_ids(self) -> set[str]:
        return set(self.pdf["conv_id"])


def transcripts(path: str, seed: int, n: int, offset: int = 0,
                extra: pd.DataFrame | None = None) -> Transcripts:
    pdf = transcripts_pdf(n, seed=seed, conv_offset=offset)
    if extra is not None:
        pdf = pd.concat([pdf, extra], ignore_index=True)
    write_parquet(pdf, path)
    return Transcripts(path, pdf)


# ---------------------------------------------------------------------------
# N-Quads dump
# ---------------------------------------------------------------------------

_ECHAR = {"\t": "\\t", "\b": "\\b", "\n": "\\n", "\r": "\\r", "\f": "\\f",
          '"': '\\"', "'": "\\'", "\\": "\\\\"}
_NOTE_WORDS = ["ticket", "said", "rerun", "path", "cost", "ok", "done"]
_NOTE_SPECIALS = list(_ECHAR)


def _escape(text: str) -> str:
    return "".join(_ECHAR.get(ch, ch) for ch in text)


def _malformed(rng: random.Random, i: int) -> str:
    forms = [
        f"<ent:x/{i}> <rel:note> <ent:y/{i}> <graph:bad>",  # no final dot
        f'<ent:x/{i}> <rel:note> "bad \\z escape {i}" <graph:bad> .',
        f'"literal subject {i}" <rel:note> <ent:y/{i}> .',
        f"<ent:x/{i} <rel:note> <ent:y/{i}> .",  # unterminated IRI
        f"not a triple {i} .",
    ]
    return forms[rng.randrange(len(forms))]


@dataclass
class NQuadsDump:
    path: str
    lines: int
    malformed: int
    quads: list[tuple]  # distinct valid quads as label tuples


def nquads_dump(path: str, seed: int, n_convs: int, n_notes: int,
                malformed_share: float) -> NQuadsDump:
    """Render the oracle triples of ``n_convs`` conversations as N-Quads
    (one named graph per conversation), add ``n_notes`` string literals
    that need every ECHAR escape, and mix in a fixed share of malformed
    lines plus comments and blank lines.

    ``quads`` holds each valid quad as the label tuple the store must
    give back: (s, p, o label or None, o_num or None, o_kind, c label).
    """
    rng = random.Random(seed * 7919 + 17)
    oracle = emit_reference_triples(transcripts_pdf(n_convs, seed=seed))
    people = _entities("person")
    valid: dict[str, tuple] = {}
    for conv, subj, pred, obj, kind in zip(
            oracle["conv_id"], oracle["subj"], oracle["pred"],
            oracle["obj"], oracle["obj_kind"]):
        graph = f"graph:{conv}"
        if kind == 0:
            o_txt, label = f"<{obj}>", (obj, None)
        elif kind == 1:
            o_txt, label = f'"{_escape(obj)}"', (obj, None)
        else:
            o_txt, label = f'"{obj}"^^<{XSD_INTEGER}>', (None, float(obj))
        line = f"<{subj}> <{pred}> {o_txt} <{graph}> ."
        valid[line] = (subj, pred, *label, int(kind), f"conv:{graph}")
    for k in range(n_notes):
        parts = []
        for _ in range(rng.randint(2, 5)):
            parts.append(rng.choice(_NOTE_WORDS))
            parts.append(rng.choice(_NOTE_SPECIALS))
        text = "".join(parts) + f" #{k}"
        subj = rng.choice(people)
        graph = f"graph:notes-{k % 50}"
        line = f'<{subj}> <rel:note> "{_escape(text)}" <{graph}> .'
        valid[line] = (subj, "rel:note", text, None, 1, f"conv:{graph}")
    lines = list(valid)
    n_bad = max(1, int(len(lines) * malformed_share))
    lines += [_malformed(rng, i) for i in range(n_bad)]
    lines += ["# comment line", "", "   "] * 3
    rng.shuffle(lines)
    os.makedirs(path, exist_ok=True)
    with open(os.path.join(path, "dump.nq"), "w", encoding="utf-8") as f:
        f.write("\n".join(lines) + "\n")
    return NQuadsDump(path, len(lines), n_bad, list(valid.values()))


# ---------------------------------------------------------------------------
# read queries
# ---------------------------------------------------------------------------

ENTITY_PREDS = ["works_at", "lives_in", "uses", "ceo_of", "knows"]


def _entities(kind: str) -> list[str]:
    return [eid for eid, k, _ in canonical_entities() if k == kind]


@dataclass
class Query:
    cls: str  # lookup | join | analytic
    text: str
    params: dict


def read_set(rng: random.Random) -> list[Query]:
    """One query of each class, constants drawn from ``rng``. Every
    answer stays under the endpoint's 10,000-row cap: lookups return a
    few dozen rows, the join is DISTINCT over person × city, and the
    aggregate is grouped and limited."""
    person = rng.choice(_entities("person"))
    pred = rng.choice(ENTITY_PREDS)
    org = rng.choice(_entities("org"))
    city = rng.choice(_entities("city"))
    return [
        Query("lookup",
              f"SELECT ?o WHERE {{ <{person}> <rel:{pred}> ?o }}",
              {"s": person, "p": f"rel:{pred}"}),
        Query("join",
              "SELECT DISTINCT ?x ?city WHERE { "
              "?x <rel:works_at> ?org . ?org <rel:located_in> ?city . "
              f"FILTER(?org != <{org}>) }}",
              {"org": org}),
        Query("analytic",
              "SELECT ?org (COUNT(?x) AS ?n) WHERE { "
              f"?x <rel:works_at> ?org . ?x <rel:lives_in> <{city}> }} "
              "GROUP BY ?org ORDER BY DESC(?n) ?org LIMIT 5",
              {"city": city}),
    ]
