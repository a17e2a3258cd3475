"""Seeded input generators for the three benchmark workloads.

Every generator takes the seed as its only source of variation: the same
seed yields byte-identical inputs, another seed yields different ones.
Generators are plain Python/NumPy (no Spark), so they can be tested and
timed on their own, and each one returns the counts it planted so the
benchmark can check the program's outputs against them.

- ``iis_snapshots``: an IIS REST API snapshot (t1) plus a changed
  snapshot (t2) in the payload shape ``plans.etl_job.run_etl`` takes,
  with one schedule JSON document per group and per employee.
- ``corpus``: an en/ru document corpus with planted exact duplicates and
  near-duplicate clusters.
- ``write_warehouse``: the TPC-H-ish fixture tables the six read queries
  scan, written as single-file parquet like the repository's sf* fixtures.
"""

from __future__ import annotations

import copy
import json
import os
import random

import numpy as np

# ---------------------------------------------------------------------------
# etl_sync: IIS API snapshots
# ---------------------------------------------------------------------------

T1_TS = "2026-03-01 00:00:00"
T2_TS = "2026-03-08 00:00:00"

N_FACULTIES = 8
N_DEPARTMENTS = 20
N_SPECIALITIES = 30
N_GROUPS = 200
N_EMPLOYEES = 80
N_AUDITORIES = 60
# planted edge cases (each exercises one reference rule)
DANGLING_FACULTY_REFS = 2  # specialities → missing faculty → placeholder (J1)
INVALID_GROUP_FK = 4  # groups → missing speciality → dropped (C2)
EMPLOYEES_NO_URL = 4  # urlId None / '' → skipped (F2)
DISCOVERED_DEPARTMENTS = 4  # auditory embeds an unknown department (M7)
MALFORMED_DOCS = 4  # broken JSON → quarantine
CONTENTLESS_DOCS = 4  # parseable, no schedules/exams → quarantine, stored
# t2 changes, as shares of the clean t1 groups (disjoint sets)
TYPE2_SHARE, TYPE1_SHARE, DELETE_SHARE, EDIT_SHARE = 0.05, 0.05, 0.03, 0.10
NEW_GROUPS, NEW_EMPLOYEES, NEW_AUDITORIES = 10, 5, 4

DAYS = ["Понедельник", "Вторник", "Среда", "Четверг", "Пятница", "Суббота"]
SLOTS = [
    ("8:00", "9:20"), ("9:35", "10:55"), ("11:25", "12:45"),
    ("13:00", "14:20"), ("14:35", "15:55"), ("16:25", "17:45"),
]
SUBJECTS = [
    "Математика", "Физика", "Программирование", "Базы данных", "Сети",
    "Экономика", "История", "Философия", "Английский язык", "Алгоритмы",
    "Операционные системы", "Схемотехника", "Компиляторы", "Статистика",
]
FIRST = ["Иван", "Анна", "Пётр", "Мария", "Олег", "Елена", "Сергей", "Ольга"]
LAST = ["Петров", "Сидорова", "Иванов", "Кузнецова", "Смирнов", "Попова"]
RANKS = ["доцент", "профессор", "ассистент", "старший преподаватель"]


def _hhmm_seconds(s: str) -> int:
    h, m = s.split(":")
    return int(h) * 3600 + int(m) * 60


def _lesson(rng: random.Random, auds: list[tuple[int, str]], groups, emps):
    start, end = rng.choice(SLOTS)
    weeks = sorted(rng.sample([1, 2, 3, 4], rng.randint(1, 4)))
    subj = rng.choice(SUBJECTS)
    emp = rng.choice(emps)
    return {
        "subject": subj,
        "subjectFullName": f"{subj} (полный курс)",
        "startLessonTime": start,
        "endLessonTime": end,
        "weekNumber": weeks,
        "numSubgroup": rng.choice([0, 0, 1, 2]),
        "auditories": [
            {"id": a_id, "name": a_name}
            for a_id, a_name in rng.sample(auds, rng.choice([1, 1, 2]))
        ],
        "employees": [
            {"firstName": emp["firstName"], "lastName": emp["lastName"],
             "middleName": None, "urlId": emp["urlId"]}
        ],
        "studentGroups": [
            {"name": g["name"], "numberOfStudents": g["numberOfStudents"] + 1}
            for g in groups
        ],
    }


def _schedule_doc(rng, auds, own_group, all_groups, emps, n_lessons):
    """One entity's schedule document; ``own_group`` is None for an
    employee document (its lessons name random groups instead)."""
    schedules: dict[str, list] = {}
    for _ in range(n_lessons):
        day = rng.choice(DAYS)
        groups = [own_group] if own_group else rng.sample(all_groups, 2)
        schedules.setdefault(day, []).append(_lesson(rng, auds, groups, emps))
    exams = []
    for _ in range(rng.randint(0, 2)):
        start, end = rng.choice(SLOTS)
        exams.append({
            "subject": rng.choice(SUBJECTS),
            "startLessonTime": start,
            "endLessonTime": end,
            "dateLesson": f"{rng.randint(10, 28):02d}.01.2027",
            "auditories": [{"id": a, "name": n} for a, n in rng.sample(auds, 1)],
        })
    return {"schedules": schedules, "exams": exams}


def _edit_doc(rng, doc):
    """Move one lesson to another slot and week set (an edited schedule)."""
    doc = copy.deepcopy(doc)
    day = rng.choice(sorted(doc["schedules"]))
    lesson = rng.choice(doc["schedules"][day])
    lesson["startLessonTime"], lesson["endLessonTime"] = rng.choice(SLOTS)
    lesson["weekNumber"] = sorted(rng.sample([1, 2, 3, 4], rng.randint(1, 4)))
    return doc


def _expected_facts(docs: dict[tuple[str, str], object], aud_ids: dict[str, int]):
    """Planted fact counts for one snapshot's schedule documents, from the
    reference rules: unusable docs are quarantined; every lesson and
    exam of a usable doc is one schedule_events row; the occupancy index
    has one row per distinct (day, week, start, end, room) over the
    group documents' lessons."""
    events = quarantined = 0
    occupancy = set()
    for (name, etype), doc in docs.items():
        if not isinstance(doc, dict) or not (doc.get("schedules") or doc.get("exams")):
            quarantined += 1
            continue
        for day, lessons in doc.get("schedules", {}).items():
            for les in lessons:
                events += 1
                if etype != "group":
                    continue
                s, e = _hhmm_seconds(les["startLessonTime"]), _hhmm_seconds(les["endLessonTime"])
                for w in les["weekNumber"]:
                    for a in les["auditories"]:
                        occupancy.add((day, w, s, e, aud_ids[a["name"]]))
        events += len(doc.get("exams", []))
    return events, quarantined, len(occupancy)


def iis_snapshots(seed: int) -> dict:
    """Seeded t1 snapshot, changed t2 snapshot and the planted counts.

    Returns ``{"t1": snap, "t2": snap, "expected": {...}, "sizes": {...}}``
    where ``snap`` is ``{"api": run_etl payload without schedules,
    "docs": {(entity_name, entity_type): raw JSON text}}``. Schedules are
    served by URL (``doc_url``) through ``sources.rest.fetch_manifest``.
    """
    rng = random.Random(seed)

    faculties = [
        {"id": i, "name": f"Факультет {i} {rng.choice(SUBJECTS)}", "abbrev": f"F{i}"}
        for i in range(1, N_FACULTIES + 1)
    ]
    departments = [
        {"id": 100 + i, "name": f"Кафедра {rng.choice(SUBJECTS)} {i}",
         "abbrev": None if i % 5 == 0 else f"K{i}"}
        for i in range(N_DEPARTMENTS)
    ]
    specialities = [
        {"id": 1000 + i, "name": f"Специальность {i}", "abbrev": f"S{i}",
         "code": f"1-{40 + i % 20}-01",
         "educationForm": None if i % 4 == 0 else {"id": i % 3 + 1, "name": f"Форма {i % 2}"},
         "facultyId": rng.randint(1, N_FACULTIES)}
        for i in range(N_SPECIALITIES)
    ]
    for j in range(DANGLING_FACULTY_REFS):
        specialities[j]["facultyId"] = 900 + j
    groups = [
        {"id": 10000 + i, "name": f"{rng.randint(1, 9)}{i:05d}",
         "course": rng.randint(1, 5),
         "specialityDepartmentEducationFormId": rng.choice(specialities)["id"],
         "numberOfStudents": rng.randint(10, 30)}
        for i in range(N_GROUPS)
    ]
    for g in groups[-INVALID_GROUP_FK:]:
        g["specialityDepartmentEducationFormId"] = 99999
    valid_groups = groups[:-INVALID_GROUP_FK]

    def employee(i):
        refs = rng.sample(departments, rng.randint(1, 2))
        return {
            "id": 50000 + i, "firstName": rng.choice(FIRST), "lastName": rng.choice(LAST),
            "middleName": None, "degree": None, "rank": rng.choice(RANKS),
            "photoLink": None, "calendarId": None, "urlId": f"emp-{i}",
            # name (case/space noise) or abbrev: both resolve (J3)
            "academicDepartment": [
                f"  {d['name'].upper()} " if d["abbrev"] is None or rng.random() < 0.5
                else d["abbrev"]
                for d in refs
            ],
        }

    employees = [employee(i) for i in range(N_EMPLOYEES)]
    for j, e in enumerate(employees[:EMPLOYEES_NO_URL]):
        e["urlId"] = None if j % 2 else ""
    url_emps = [e for e in employees if e["urlId"]]

    def auditory(i, building, dept_id):
        return {"id": 70000 + i, "name": f"{100 + i}",
                "buildingNumber": {"name": f"{building} к."}, "capacity": rng.randint(20, 120),
                "auditoryType": {"name": "Лекционная"}, "departmentId": dept_id}

    auditories = [
        auditory(i, rng.randint(1, 8), rng.choice(departments)["id"])
        for i in range(N_AUDITORIES + DISCOVERED_DEPARTMENTS)
    ]
    for j, a in enumerate(auditories[N_AUDITORIES:]):
        a["department"] = {"idDepartment": 800 + j, "name": f"Новая кафедра {j}", "abbrev": f"NK{j}"}
    aud_names = [(a["id"], f"{a['name']}-{a['buildingNumber']['name']}") for a in auditories]
    aud_ids = {n: i for i, n in aud_names}

    def docs_for(grps, emps, auds):
        docs = {}
        for g in grps:
            docs[(g["name"], "group")] = _schedule_doc(rng, auds, g, grps, emps, rng.randint(4, 8))
        for e in emps:
            docs[(e["urlId"], "employee")] = _schedule_doc(rng, auds, None, grps, emps, rng.randint(3, 6))
        return docs

    docs1 = docs_for(valid_groups, url_emps, aud_names)
    group_keys = [k for k in docs1 if k[1] == "group"]
    bad = rng.sample(group_keys, MALFORMED_DOCS + CONTENTLESS_DOCS)
    for k in bad[:MALFORMED_DOCS]:
        docs1[k] = "{definitely not json " + k[0]
    for k in bad[MALFORMED_DOCS:]:
        docs1[k] = {"startDate": "01.09.2026"}
    bad_names = {k[0] for k in bad}

    # ---- t2: the changed snapshot -------------------------------------
    clean = [g for g in valid_groups if g["name"] not in bad_names]
    order = rng.sample(clean, len(clean))
    n2, n1, nd = (int(len(clean) * s) for s in (TYPE2_SHARE, TYPE1_SHARE, DELETE_SHARE))
    type2 = {g["id"] for g in order[:n2]}
    type1 = {g["id"] for g in order[n2:n2 + n1]}
    deleted = {g["id"] for g in order[n2 + n1:n2 + n1 + nd]}
    groups2 = []
    for g in groups:
        if g["id"] in deleted:
            continue
        g = dict(g)
        if g["id"] in type2:
            g["course"] = g["course"] % 5 + 1
        if g["id"] in type1:
            g["numberOfStudents"] += 3
        groups2.append(g)
    new_groups = [
        {"id": 20000 + i, "name": f"9{i:05d}", "course": 1,
         "specialityDepartmentEducationFormId": rng.choice(specialities[DANGLING_FACULTY_REFS:])["id"],
         "numberOfStudents": rng.randint(10, 30)}
        for i in range(NEW_GROUPS)
    ]
    groups2 += new_groups
    faculties2 = copy.deepcopy(faculties) + [
        {"id": N_FACULTIES + 1, "name": "Новый факультет", "abbrev": "NF"}
    ]
    faculties2[0]["name"] += " (переименован)"
    departments2 = departments + [
        {"id": 100 + N_DEPARTMENTS + j, "name": f"Кафедра новая {j}", "abbrev": f"KN{j}"}
        for j in range(2)
    ]
    specialities2 = specialities + [
        {"id": 1000 + N_SPECIALITIES + j, "name": f"Специальность новая {j}",
         "abbrev": f"SN{j}", "code": "1-99-01", "educationForm": None, "facultyId": 1}
        for j in range(2)
    ]
    employees2 = copy.deepcopy(employees)
    for e in rng.sample(url_emps, int(len(url_emps) * 0.05)):
        next(x for x in employees2 if x["id"] == e["id"])["rank"] = "профессор (новый)"
    new_emps = [employee(N_EMPLOYEES + i) for i in range(NEW_EMPLOYEES)]
    employees2 += new_emps
    auditories2 = copy.deepcopy(auditories)
    for a in rng.sample(auditories2, int(len(auditories2) * 0.05)):
        a["capacity"] += 5
    new_auds = [
        auditory(N_AUDITORIES + DISCOVERED_DEPARTMENTS + i, rng.randint(1, 8),
                 rng.choice(departments)["id"])
        for i in range(NEW_AUDITORIES)
    ]
    auditories2 += new_auds
    aud_names2 = aud_names + [(a["id"], f"{a['name']}-{a['buildingNumber']['name']}") for a in new_auds]
    aud_ids2 = {n: i for i, n in aud_names2}

    valid_groups2 = [g for g in groups2 if g["specialityDepartmentEducationFormId"] != 99999]
    url_emps2 = [e for e in employees2 if e["urlId"]]
    docs2 = {}
    group_names2 = {g["name"] for g in valid_groups2}
    for k, d in docs1.items():
        if k[1] == "group" and k[0] not in group_names2:
            continue  # deleted group: no schedule any more
        docs2[k] = d
    editable = [k for k, d in docs2.items() if isinstance(d, dict) and d.get("schedules")]
    for k in rng.sample(editable, int(len(editable) * EDIT_SHARE)):
        docs2[k] = _edit_doc(rng, docs2[k])
    fresh = docs_for(new_groups, new_emps, aud_names2)
    docs2.update(fresh)

    # ---- planted counts --------------------------------------------------
    def links(emps):
        return sum(len(e["academicDepartment"]) for e in emps if e["urlId"])

    ev1, q1, occ1 = _expected_facts(docs1, aud_ids)
    ev2, q2, occ2 = _expected_facts(docs2, aud_ids2)
    g_valid = len(valid_groups)
    # every parseable document is stored as a blob, content or not
    stored1 = sum(isinstance(d, dict) for d in docs1.values())
    stored2 = sum(isinstance(d, dict) for d in docs2.values())
    t1_rows = {
        "system_state": 1,
        "faculties": N_FACULTIES + DANGLING_FACULTY_REFS,
        "departments": N_DEPARTMENTS + DISCOVERED_DEPARTMENTS,
        "specialities": N_SPECIALITIES,
        "student_groups": g_valid,
        "employees": len(url_emps),
        "departments_employees": links(employees),
        "auditories": len(auditories),
        "schedule_json_storage": stored1,
        "schedule_events": ev1,
        "schedule_quarantine": q1,
        "occupancy_index": occ1,
    }
    t2_rows = dict(
        t1_rows,
        faculties=t1_rows["faculties"] + 1,
        departments=t1_rows["departments"] + 2,
        specialities=N_SPECIALITIES + 2,
        student_groups=g_valid + len(type2) + NEW_GROUPS,
        employees=len(url_emps2),
        departments_employees=links(employees2),
        auditories=len(auditories2),
        schedule_json_storage=stored1 + stored2,
        schedule_events=ev2,
        schedule_quarantine=q2,
        occupancy_index=occ2,
    )
    expected = {
        "t1": {"rows": t1_rows, "scd2_opened": g_valid, "scd2_closed": 0,
               "quarantined": q1},
        "t2": {"rows": t2_rows, "scd2_opened": len(type2) + NEW_GROUPS,
               "scd2_closed": len(type2) + len(deleted), "quarantined": q2},
    }

    def snap(api, docs, week):
        raw = {
            k: d if isinstance(d, str) else json.dumps(d, ensure_ascii=False)
            for k, d in docs.items()
        }
        return {"api": dict(api, current_week=week), "docs": raw}

    t1 = snap({"faculties": faculties, "departments": departments,
               "specialities": specialities, "student_groups": groups,
               "employees": employees, "auditories": auditories}, docs1, 1)
    t2 = snap({"faculties": faculties2, "departments": departments2,
               "specialities": specialities2, "student_groups": groups2,
               "employees": employees2, "auditories": auditories2}, docs2, 2)
    sizes = {}
    for tag, s in (("t1", t1), ("t2", t2)):
        list_rows = sum(len(v) for v in s["api"].values() if isinstance(v, list))
        sizes[f"{tag}_rows"] = list_rows + len(s["docs"])
        sizes[f"{tag}_bytes"] = len(json.dumps(s["api"], ensure_ascii=False).encode()) + sum(
            len(d.encode()) for d in s["docs"].values()
        )
    return {"t1": t1, "t2": t2, "expected": expected, "sizes": sizes}


def doc_url(entity_name: str, entity_type: str) -> str:
    return f"iis://schedule/{entity_type}/{entity_name}"


# ---------------------------------------------------------------------------
# corpus_dedup: en/ru corpus with planted duplicates
# ---------------------------------------------------------------------------

N_DOCS = 800
RU_SHARE = 0.4
EXACT_DUP_SHARE = 0.05  # docs that are case/space variants of another doc
NEAR_DUP_SHARE = 0.08  # docs that are light edits of another doc
FAR_EDIT_SHARE = 0.03  # heavy edits of another doc (below threshold)
NGRAM_THRESHOLD = 0.5  # ngram_jaccard_pairs default

_EN_SYL = ["ka", "lo", "mi", "tra", "ven", "sol", "der", "pin", "qua", "ber",
           "mon", "tis", "rel", "gan", "fo", "ul", "est", "ric", "had", "nor"]
_RU_SYL = ["ко", "ла", "ми", "про", "ст", "ва", "ре", "ни", "до", "ль",
           "пе", "ры", "чи", "зо", "гу", "ба", "те", "ше", "жи", "мо"]
_RU_END = ["", "", "ами", "ого", "ых", "ия", "ение", "ость", "ать", "ский"]


def _vocab(rng: random.Random, syl, ends, n):
    words = set()
    while len(words) < n:
        w = "".join(rng.choice(syl) for _ in range(rng.randint(2, 3))) + rng.choice(ends)
        words.add(w)
    return sorted(words)


def word_grams(text: str, n: int = 3) -> set[str]:
    """Word n-gram set, as ``ngram_jaccard_pairs`` defines it."""
    w = text.lower().split()
    return {" ".join(w[i:i + n]) for i in range(max(len(w) - n + 1, 0))}


def jaccard(a: set, b: set) -> float:
    return len(a & b) / len(a | b) if a or b else 0.0


def corpus(seed: int) -> dict:
    """Seeded en/ru corpus: ``{"docs": [(doc_id, text, lang)],
    "exact_groups": [[ids]], "near_pairs": [(a, b)], "sizes": {...}}``.

    ``exact_groups`` are the planted sets of documents whose texts differ
    only in letter case and whitespace; ``near_pairs`` are the planted
    (base, variant) pairs whose word-3-gram Jaccard is at or above
    ``NGRAM_THRESHOLD`` (heavy edits below it are planted too, as
    negatives)."""
    rng = random.Random(seed)
    vocab = {"en": _vocab(rng, _EN_SYL, [""], 1500), "ru": _vocab(rng, _RU_SYL, _RU_END, 1500)}
    n_exact = int(N_DOCS * EXACT_DUP_SHARE)
    n_near = int(N_DOCS * NEAR_DUP_SHARE)
    n_far = int(N_DOCS * FAR_EDIT_SHARE)
    n_base = N_DOCS - n_exact - n_near - n_far
    docs: list[list] = []
    for _ in range(n_base):
        lang = "ru" if rng.random() < RU_SHARE else "en"
        words = [rng.choice(vocab[lang]) for _ in range(rng.randint(40, 110))]
        sentences, i = [], 0
        while i < len(words):
            k = rng.randint(6, 14)
            sentences.append(" ".join(words[i:i + k]).capitalize() + ".")
            i += k
        docs.append([" ".join(sentences), lang])

    def edit(text, lang, n_sub):
        w = text.split()
        for j in rng.sample(range(len(w)), min(n_sub, len(w))):
            w[j] = rng.choice(vocab[lang])
        return " ".join(w)

    sources = list(range(n_base))
    exact_of: dict[int, int] = {}
    near_of: list[tuple[int, int]] = []
    for _ in range(n_exact):
        src = rng.choice(sources)
        t, lang = docs[src]
        variant = "  ".join(t.upper().split()) if rng.random() < 0.5 else "\n" + t.lower() + " "
        exact_of[len(docs)] = src
        docs.append([variant, lang])
    for _ in range(n_near):
        src = rng.choice(sources)
        t, lang = docs[src]
        near_of.append((src, len(docs)))
        docs.append([edit(t, lang, rng.randint(1, 3)), lang])
    for _ in range(n_far):
        src = rng.choice(sources)
        t, lang = docs[src]
        docs.append([edit(t, lang, len(t.split()) // 2), lang])

    # shuffle ids so planted copies are not adjacent to their source
    perm = rng.sample(range(len(docs)), len(docs))
    new_id = {old: perm[old] for old in range(len(docs))}
    out = sorted((new_id[i], t, lang) for i, (t, lang) in enumerate(docs))
    groups: dict[int, set] = {}
    for dup, src in exact_of.items():
        groups.setdefault(new_id[src], {new_id[src]}).add(new_id[dup])
    grams = {i: word_grams(t) for i, t, _ in out}
    near = sorted(
        tuple(sorted((new_id[a], new_id[b])))
        for a, b in near_of
        if jaccard(grams[new_id[a]], grams[new_id[b]]) >= NGRAM_THRESHOLD
    )
    return {
        "docs": out,
        "exact_groups": sorted(sorted(g) for g in groups.values()),
        "near_pairs": near,
        "sizes": {
            "docs": len(out),
            "bytes": sum(len(t.encode()) for _, t, _ in out),
            "ru_share": RU_SHARE,
            "exact_dup_share": EXACT_DUP_SHARE,
            "near_dup_share": NEAR_DUP_SHARE,
        },
    }


# ---------------------------------------------------------------------------
# warehouse_reads: TPC-H-ish fixture tables
# ---------------------------------------------------------------------------

WAREHOUSE_SF = 0.01
WAREHOUSE_TABLES = ("customer", "supplier", "orders", "lineitem", "events")


def _ts(days: np.ndarray, base: str) -> np.ndarray:
    return np.datetime64(base, "us") + days.astype("timedelta64[D]").astype("timedelta64[us]")


def warehouse_tables(seed: int, sf: float = WAREHOUSE_SF) -> dict:
    """Seeded customer/supplier/orders/lineitem/events tables (pyarrow),
    with the sf* fixtures' column names, types and value ranges."""
    import pyarrow as pa

    r = np.random.default_rng(seed)
    n_cust, n_supp = int(150_000 * sf), int(10_000 * sf)
    n_ord, n_ev = int(1_500_000 * sf), int(1_000_000 * sf)
    segments = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"])
    prio = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
    kinds = np.array(["click", "view", "purchase", "signup", "error"])

    ck = np.arange(n_cust, dtype=np.int64)
    customer = pa.table({
        "c_custkey": ck,
        "c_name": [f"Customer#{k:09d}" for k in ck],
        "c_nationkey": r.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": np.round(r.uniform(-999.99, 9999.99, n_cust), 2),
        "c_mktsegment": segments[r.integers(0, 5, n_cust)],
    })
    sk = np.arange(n_supp, dtype=np.int64)
    supplier = pa.table({
        "s_suppkey": sk,
        "s_name": [f"Supplier#{k:09d}" for k in sk],
        "s_nationkey": r.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": np.round(r.uniform(-999.99, 9999.99, n_supp), 2),
    })
    ok = np.arange(n_ord, dtype=np.int64)
    odays = r.integers(0, 2404, n_ord)  # 1995-01-01 .. 2001-08-01
    orders = pa.table({
        "o_orderkey": ok,
        "o_custkey": r.integers(0, n_cust, n_ord).astype(np.int64),
        "o_orderstatus": np.array(["F", "O", "P"])[r.integers(0, 3, n_ord)],
        "o_totalprice": np.round(r.uniform(1000.0, 500000.0, n_ord), 2),
        "o_orderdate": _ts(odays, "1995-01-01"),
        "o_orderpriority": prio[r.integers(0, 5, n_ord)],
    })
    lines = r.integers(1, 8, n_ord)
    n_li = int(lines.sum())
    l_order = np.repeat(ok, lines)
    l_num = (np.arange(n_li) - np.repeat(np.cumsum(lines) - lines, lines) + 1).astype(np.int32)
    qty = r.integers(1, 51, n_li).astype(np.float64)
    lineitem = pa.table({
        "l_orderkey": l_order,
        "l_partkey": r.integers(0, int(200_000 * sf), n_li).astype(np.int64),
        "l_suppkey": r.integers(0, n_supp, n_li).astype(np.int64),
        "l_linenumber": l_num,
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * r.uniform(900.0, 2100.0, n_li), 2),
        "l_discount": np.round(r.integers(0, 11, n_li) / 100.0, 2),
        "l_tax": np.round(r.integers(0, 9, n_li) / 100.0, 2),
        "l_returnflag": np.array(["A", "N", "R"])[r.integers(0, 3, n_li)],
        "l_linestatus": np.array(["F", "O"])[r.integers(0, 2, n_li)],
        "l_shipdate": _ts(np.repeat(odays, lines) + r.integers(1, 122, n_li), "1995-01-01"),
    })
    ev_us = np.sort(r.integers(0, 30 * 86_400_000_000, n_ev))
    events = pa.table({
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": np.datetime64("2024-01-01", "us") + ev_us.astype("timedelta64[us]"),
        "user_id": r.integers(0, max(n_cust // 10, 1), n_ev).astype(np.int64),
        "event_type": kinds[r.integers(0, 5, n_ev)],
        "value": np.round(r.uniform(0.01, 490.0, n_ev), 2),
        "props": [f'{{"k": {k}}}' for k in r.integers(0, 100, n_ev)],
    })
    return {"customer": customer, "supplier": supplier, "orders": orders,
            "lineitem": lineitem, "events": events}


def write_warehouse(seed: int, out_dir: str) -> dict:
    """Write the seeded tables as ``<out_dir>/<name>.parquet``; returns
    the input sizes (rows, bytes on disk)."""
    import pyarrow.parquet as pq

    os.makedirs(out_dir, exist_ok=True)
    sizes = {"rows": 0, "bytes": 0}
    for name, table in warehouse_tables(seed).items():
        path = os.path.join(out_dir, f"{name}.parquet")
        pq.write_table(table, path)
        sizes["rows"] += table.num_rows
        sizes["bytes"] += os.path.getsize(path)
    return sizes
