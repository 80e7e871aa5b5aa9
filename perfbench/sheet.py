"""Seeded wide-sheet generator for the ``choir_etl`` workload.

Produces the RAW sheet the pipeline ingests (``Tag, Joined, tgid, Who``
followed by one column per weekly rehearsal) together with the row
counts every warehouse table must end up with. The counts are derived
here, from the generator's own bookkeeping, never by running the
program, so they check it independently.

The sheet covers the variety of the RAW contract: ``ex``-prefixed tags
with each separator form, duplicate chorister names (disambiguated by
join date) and duplicate song titles, comma decimals, date headers and
join dates in ``dd.mm.yy`` / ``dd.mm.yyyy`` / ISO / sheet-serial form,
junk song cells, members who join mid-range, and rows the builders
must skip (empty ``Tag``, empty ``Who``).
"""

from __future__ import annotations

import csv
import random
from datetime import date, timedelta

VOICES = ["Soprano", "Alto", "Tenor", "Bass"]
EX_FORMS = ["ex{}", "ex {}", "ex-{}", "ex_{}"]
FIRST = [
    "Анна", "Мария", "Ольга", "Ирина", "Елена", "Наталья", "Светлана",
    "Татьяна", "Юлия", "Дарья", "Иван", "Пётр", "Алексей", "Дмитрий",
    "Сергей", "Андрей", "Михаил", "Николай", "Павел", "Егор",
]
LAST = [
    "Иванова", "Смирнова", "Кузнецова", "Попова", "Соколова", "Лебедева",
    "Козлова", "Новикова", "Морозова", "Волкова", "Орлов", "Зайцев",
    "Белов", "Медведев", "Ершов", "Никитин", "Соловьёв", "Фролов",
    "Голубев", "Виноградов", "Богданов", "Воробьёв", "Фёдоров", "Марков",
    "Киселёв", "Макаров", "Андреев", "Ковалёв", "Ильин", "Гусев",
    "Титов", "Кузьмин", "Кудрявцев", "Баранов", "Куликов", "Алексеев",
    "Степанов", "Яковлев", "Сорокин", "Сергеев", "Романов", "Захаров",
    "Борисов", "Королёв", "Герасимов", "Пономарёв", "Григорьев", "Лазарев",
    "Жуков", "Беляев",
]
SONGS = [
    "Ave Maria", "Богородице Дево", "Ой, то не вечер", "Calinka",
    "Hallelujah", "Veni Creator", "Ubi caritas", "Тебе поем", "Ніч яка",
    "Ave verum corpus", "Sanctus", "Agnus Dei", "Gloria", "Kyrie",
    "Нам не дано предугадать", "Вечерний звон", "Shenandoah",
    "Bogoroditse Devo", "O magnum mysterium", "Lux aeterna",
]
HOURS = ["2", "2", "2", "2.5", "2,5", "1,5", "3", "1.75"]
MINUTES = ["30", "20", "15", "45", "45,5", "10", "12.5", "25"]
JUNK = ["пропуск", "tbd", "n/a", "см. выше", "x"]
SERIAL_EPOCH = date(1899, 12, 30)


def _date_text(d: date, form: int) -> str:
    """One of the four date spellings the RAW contract allows."""
    if form == 0:
        return d.strftime("%d.%m.%y")
    if form == 1:
        return d.strftime("%d.%m.%Y")
    if form == 2:
        return d.isoformat()
    return str((d - SERIAL_EPOCH).days)


def generate(
    path: str,
    seed: int,
    n_choristers: int = 1000,
    n_songs: int = 60,
    n_dates: int = 104,
) -> dict[str, int]:
    """Write the sheet to ``path`` and return the expected row counts.

    Keys: ``rows_dim_chorister``, ``rows_dim_chorister_assignment``,
    ``rows_dim_song``, ``rows_fact_attendance``, ``rows_fact_song_time``
    (the audit row's names), ``rows_mart_attendance``,
    ``rows_mart_song_rehearsal``, ``rows_mart_chorister_song``,
    ``rows_bad_cells`` (added per run), ``csv_bytes`` and ``latest_date``
    (ISO form of the last rehearsal).
    """
    rng = random.Random(seed)
    first = date(2024, 6, 16) + timedelta(days=7 * rng.randrange(0, 52))
    dates = [first + timedelta(weeks=i) for i in range(n_dates)]
    header_forms = [rng.choices([0, 1, 2, 3], [80, 8, 6, 6])[0] for _ in dates]
    header = ["Tag", "Joined", "tgid", "Who"] + [
        _date_text(d, f) for d, f in zip(dates, header_forms)
    ]

    rows: list[list[str]] = []
    attending = [0] * n_dates  # distinct attending chorister ids per date
    seen_names: dict[str, set[int]] = {}
    for i in range(n_choristers):
        if rng.random() < 0.03 and seen_names:
            # duplicate name: a different join date keeps the K1 ids
            # distinct ("name" and "name | joined")
            name = rng.choice(sorted(seen_names))
        else:
            name = f"{rng.choice(FIRST)} {rng.choice(LAST)}"
        taken = seen_names.setdefault(name, set())
        join_idx = 0 if rng.random() < 0.6 else rng.randrange(1, n_dates)
        while join_idx in taken:
            join_idx = (join_idx + 1) % n_dates
        taken.add(join_idx)
        voice = rng.choice(VOICES)
        active = rng.random() > 0.1
        tag = voice if active else rng.choice(EX_FORMS).format(voice)
        tgid = f"@{rng.choice(['m', 'v', 'k'])}{i}" if rng.random() < 0.5 else ""
        joined = _date_text(dates[join_idx], rng.choices([0, 1, 2, 3], [70, 10, 10, 10])[0])
        p_attend = rng.uniform(0.55, 0.95) if active else rng.uniform(0.05, 0.3)
        cells = []
        for d in range(n_dates):
            if d >= join_idx and rng.random() < p_attend:
                cells.append(rng.choice(HOURS))
                attending[d] += 1
            else:
                cells.append("")
        rows.append([tag, joined, tgid, name] + cells)

    # rows every builder skips: empty Tag, and a chorister Tag with no name
    skipped = [
        ["", "", "", "Гость без тега"] + ["2"] * n_dates,
        ["Alto", "16.06.24", "", "  "] + [""] * n_dates,
        ["", "", "", ""] + [""] * n_dates,
    ]
    for r in skipped:
        rows.insert(rng.randrange(0, len(rows)), r)

    songs_per_date = [0] * n_dates
    song_facts = 0
    junk_cells = 0
    titles = rng.sample(SONGS, k=min(len(SONGS), 14))
    for s in range(n_songs):
        # titles repeat: the K2 "(n)" suffix path
        title = titles[s % len(titles)] if s < 2 * len(titles) else f"Песня {s}"
        cells = []
        for d in range(n_dates):
            u = rng.random()
            if u < 0.3:
                cells.append(rng.choice(MINUTES))
                songs_per_date[d] += 1
                song_facts += 1
            elif u < 0.31:
                cells.append(rng.choice(JUNK))
                junk_cells += 1
            else:
                cells.append("")
        rows.append(["Song", "", "", title] + cells)

    with open(path, "w", newline="", encoding="utf-8") as f:
        w = csv.writer(f)
        w.writerow(header)
        w.writerows(rows)
    with open(path, "rb") as f:
        csv_bytes = len(f.read())

    fact_attendance = n_choristers * n_dates
    return {
        "rows_dim_chorister": n_choristers,
        "rows_dim_chorister_assignment": n_choristers,
        "rows_dim_song": n_songs,
        "rows_fact_attendance": fact_attendance,
        "rows_fact_song_time": song_facts,
        "rows_mart_attendance": fact_attendance,
        "rows_mart_song_rehearsal": song_facts,
        "rows_mart_chorister_song": sum(
            a * s for a, s in zip(attending, songs_per_date)
        ),
        "rows_bad_cells": junk_cells,
        "csv_bytes": csv_bytes,
        "latest_date": dates[-1].isoformat(),
    }
