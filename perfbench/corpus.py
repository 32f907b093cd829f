"""Seeded transcript corpus for the benchmark.

The program under test only ever sees the tables written here. Every row is
one sentence "<subject> <predicate> <object>." so the DuckDB oracle (which
does not split sentences) extracts exactly what the engine extracts.

Vocabulary:
- people: FIRST x LAST names, a seeded sample of ``n_people``, drawn with
  Zipf popularity (a few head people dominate the mention stream);
- subjects are people rendered through the five surface variants the
  synthetic driver data uses (plain, "Dr. ", "Last, First", UPPER, middle
  initial), so every normalization / partial / fuzzy tier fires;
- objects are people, ``dice_spark.synth.ORGS`` (typed Org by the engine)
  or "Project <name>" (typed Project).

``turn_idx`` is dense and 0-based per conversation (the windowed_turns
contract).
"""

from __future__ import annotations

from datetime import datetime, timezone

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

from dice_spark.synth import ORGS, RELATIONS

FIRST = [
    "Aaron", "Abigail", "Adrian", "Aisha", "Alana", "Albert", "Alicia", "Amara",
    "Andre", "Angela", "Anton", "Arjun", "Beatrix", "Bernard", "Bianca", "Boris",
    "Camila", "Carlos", "Cecilia", "Cedric", "Chiara", "Colin", "Darius", "Delia",
    "Dmitri", "Edgar", "Elena", "Elliot", "Emeka", "Farah", "Felix", "Fiona",
    "Gideon", "Greta", "Hamid", "Helena", "Hiroshi", "Imani", "Ingrid", "Isaac",
    "Jasper", "Javier", "Joanna", "Julian", "Kamala", "Karim", "Keiko", "Lars",
    "Leona", "Lucia", "Magnus", "Malik", "Marisol", "Mateo", "Mira", "Nadia",
    "Nikolai", "Noemi", "Olga", "Oscar", "Priya", "Quentin", "Rafael", "Renata",
    "Rohan", "Sabine", "Santiago", "Selma", "Tariq", "Thea", "Tobias", "Ursula",
    "Valeria", "Viktor", "Wanda", "Xavier", "Yara", "Yusuf", "Zelda", "Zoran",
]
LAST = [
    "Abara", "Achterberg", "Albescu", "Amundsen", "Bakshi", "Balogun", "Barros",
    "Bergstrom", "Bianchi", "Brennan", "Castillo", "Chaudhry", "Cortez", "Dalton",
    "Delacroix", "Dimitrov", "Draxler", "Eastwood", "Eriksen", "Esposito",
    "Fairbanks", "Falkner", "Ferreira", "Fujimoto", "Galloway", "Gonzaga",
    "Grimaldi", "Gustafsson", "Haddad", "Halvorsen", "Hartmann", "Hoffmann",
    "Ibrahim", "Ivanova", "Jankowski", "Jaramillo", "Kaczmarek", "Kapoor",
    "Kowalski", "Kuznetsov", "Lachance", "Lindqvist", "Lombardi", "Lozano",
    "Mahmoud", "Marchetti", "Mbeki", "Moreau", "Nakamura", "Novak", "Nyberg",
    "Obradovic", "Okonkwo", "Oyelaran", "Pacheco", "Petrakis", "Pinheiro",
    "Quispe", "Rahman", "Ramires", "Rasmussen", "Rosenthal", "Saarinen",
    "Salazar", "Schreiber", "Takahashi", "Tamura", "Thorsen", "Torvalds",
    "Uchenna", "Valdivia", "Vasquez", "Villanueva", "Wachowski", "Whitfield",
    "Yamamoto", "Yilmaz", "Zamora", "Zielinski", "Zubiri",
]
PROJECT_WORDS = [
    "Aurora", "Basalt", "Cinder", "Delta", "Ember", "Falcon", "Glacier", "Harbor",
    "Indigo", "Juniper", "Kestrel", "Lantern", "Monsoon", "Nimbus", "Obsidian",
    "Pinnacle", "Quartz", "Rampart", "Sequoia", "Tundra", "Umber", "Vantage",
    "Willow", "Zephyr",
]
PREDICATES = [r[0] for r in RELATIONS]
# Relations whose declared object type is Org (is employed by, founded).
ORG_OBJECT_PREDICATES = {p for p, _st, ot in RELATIONS if ot == "Org"}

_T0 = datetime(2026, 1, 1, tzinfo=timezone.utc)


def _check_vocabulary() -> None:
    # A name holding a predicate as a substring would be split there by the
    # first-match extractor; keep the vocabulary free of that ambiguity.
    words = FIRST + LAST + PROJECT_WORDS + ORGS
    bad = [w for w in words for p in PREDICATES if p in w.lower()]
    if bad:
        raise ValueError(f"vocabulary words contain predicates: {bad}")


class Corpus:
    """People, projects and a Zipf sampler, all fixed by ``seed``."""

    def __init__(self, seed: int, n_people: int = 3000, zipf_s: float = 1.1):
        _check_vocabulary()
        if n_people > len(FIRST) * len(LAST):
            raise ValueError(f"n_people {n_people} exceeds {len(FIRST) * len(LAST)} names")
        self.rng = np.random.default_rng(seed)
        pick = self.rng.permutation(len(FIRST) * len(LAST))[:n_people]
        self.people = [(FIRST[i // len(LAST)], LAST[i % len(LAST)]) for i in pick]
        self.name_of = {f"{f} {la}".lower(): f"{f} {la}" for f, la in self.people}
        weights = 1.0 / np.arange(1, n_people + 1) ** zipf_s
        self.person_p = weights / weights.sum()
        self.projects = ["Project " + w for w in PROJECT_WORDS]

    def _person(self, n: int) -> np.ndarray:
        return self.rng.choice(len(self.people), size=n, p=self.person_p)

    def _subject(self, person: int, variant: int) -> str:
        first, last = self.people[person]
        return (
            f"{first} {last}",
            f"Dr. {first} {last}",
            f"{last}, {first}",
            f"{first} {last}".upper(),
            f"{first} Q. {last}",
        )[variant]

    def sentences(self, n: int) -> list[str]:
        """``n`` one-sentence facts."""
        rng = self.rng
        subj = self._person(n)
        variant = rng.integers(0, 5, size=n)
        pred = rng.integers(0, len(PREDICATES), size=n)
        obj_kind = rng.random(size=n)
        obj_person = self._person(n)
        obj_org = rng.integers(0, len(ORGS), size=n)
        obj_proj = rng.integers(0, len(self.projects), size=n)
        out = []
        for i in range(n):
            p = PREDICATES[pred[i]]
            k = obj_kind[i]
            if p in ORG_OBJECT_PREDICATES:
                # mostly well-typed; the rest exercise the TypeMismatch gate
                kind = "org" if k < 0.85 else "person"
            else:
                kind = "person" if k < 0.5 else ("org" if k < 0.7 else "project")
            if kind == "person":
                f, la = self.people[obj_person[i]]
                obj = f"{f} {la}"
            elif kind == "org":
                obj = ORGS[obj_org[i]]
            else:
                obj = self.projects[obj_proj[i]]
            out.append(f"{self._subject(subj[i], variant[i])} {p} {obj}.")
        return out

    def conversations(
        self, total: int, min_turns: int, max_turns: int, prefix: str = "conv"
    ) -> pd.DataFrame:
        """Transcripts table (conv_id, turn_idx, role, text, tool, ts) of
        exactly ``total`` turns; conversation lengths are drawn uniformly
        from [min_turns, max_turns] and the last one takes the remainder."""
        lengths = self.rng.integers(min_turns, max_turns + 1, size=total // min_turns + 1)
        ends = np.cumsum(lengths)
        n_convs = int(np.searchsorted(ends, total)) + 1
        lengths = lengths[:n_convs]
        lengths[-1] -= int(ends[n_convs - 1]) - total
        conv = np.repeat(np.arange(n_convs), lengths)
        starts = np.repeat(np.cumsum(lengths) - lengths, lengths)
        turn = np.arange(total) - starts
        is_tool = self.rng.random(size=total) < 0.05
        role = np.where(is_tool, "tool", np.where(turn % 2 == 0, "user", "assistant"))
        ts = pd.Timestamp(_T0) + pd.to_timedelta(conv * 100_000 + turn * 60, unit="s")
        return pd.DataFrame(
            {
                "conv_id": [f"{prefix}-{c:06d}" for c in conv],
                "turn_idx": turn.astype("int32"),
                "role": role,
                "text": self.sentences(total),
                "tool": np.where(is_tool, "debugger", None),
                "ts": ts,
            }
        )


TRANSCRIPT_SCHEMA = pa.schema(
    [
        pa.field("conv_id", pa.string(), nullable=False),
        pa.field("turn_idx", pa.int32(), nullable=False),
        pa.field("role", pa.string(), nullable=False),
        pa.field("text", pa.string(), nullable=False),
        pa.field("tool", pa.string()),
        pa.field("ts", pa.timestamp("us", tz="UTC")),
    ]
)


def write_parquet(df: pd.DataFrame, path: str) -> None:
    pq.write_table(
        pa.Table.from_pandas(df, schema=TRANSCRIPT_SCHEMA, preserve_index=False), path
    )
