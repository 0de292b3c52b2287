#!/usr/bin/env python3
"""Seeded input generator and independent expectation model for the ETL
benchmark workloads.

    python3 etlbench/gen.py <workload> <seed> <outdir>

writes `<outdir>/in/*.csv`, `<outdir>/rules.json` and `<outdir>/expect.json`.
The expectations are derived from the Carrot v2 rule semantics re-stated
here in Python (date validity, first-row-wins person dedupe, zip-aligned
concept combinations, numbering before the person join, the summary
rollups), never from the engine's output, so a wrong engine result cannot
become its own golden.
"""
import datetime
import hashlib
import json
import os
import random
import re
import sys

# --------------------------------------------------------------- workloads

# etl_bulk: the tools/gen_big_corpus.py shape (v2 rules, one wildcard
# concept, one date column per source), sized so that a run fits the
# benchmark's time budget on a 4-core host.
BULK_PERSONS = 6_000
BULK_MEAS = 114_000

# etl_multi: the reference examples shape — one person file plus five event
# files (vaccine.csv unmapped, as in the reference's v2 rules), one source
# column routed to three targets, several concepts per value, and a fixed
# share of empty values, unparseable dates, unknown and duplicated person ids.
# Its run is the longest the time budget allows beside etl_bulk's, because a
# run is a single cold CLI call and a longer call averages more host noise.
MULTI_PERSONS = 5_000
MULTI_EVENTS = {  # rows per event file
    "Symptoms.csv": 16_000,
    "covid19_antibody.csv": 14_000,
    "Covid19_test.csv": 16_000,
    "scans.csv": 12_000,
    "vaccine.csv": 4_000,
}
SHARE_EMPTY = 0.05         # empty data values
SHARE_BAD_DATE = 0.02      # unparseable event dates
SHARE_UNKNOWN_PERSON = 0.03
SHARE_DUP_PERSON = 0.02    # person rows repeated later in the file
SHARE_BAD_DOB = 0.01       # unparseable birth date
SHARE_BAD_CALENDAR = 0.01  # parseable shape, impossible calendar date


def bulk_rules():
    return {
        "metadata": {"dataset": "bigcorpus"},
        "cdm": {
            "person": {"src_PERSON.csv": {
                "person_id_mapping": {"source_field": "person_id", "dest_field": "person_id"},
                "date_mapping": {"source_field": "dob", "dest_field": ["birth_datetime"]},
                "concept_mappings": {"sex": {
                    "M": {"gender_concept_id": [8507], "gender_source_concept_id": [8507]},
                    "F": {"gender_concept_id": [8532], "gender_source_concept_id": [8532]},
                    "original_value": ["gender_source_value"]}}}},
            "measurement": {"src_MEAS.csv": {
                "person_id_mapping": {"source_field": "person_id", "dest_field": "person_id"},
                "date_mapping": {"source_field": "mdate", "dest_field": ["measurement_datetime"]},
                "concept_mappings": {"val": {
                    "*": {"measurement_concept_id": [3025315],
                          "measurement_source_concept_id": [3025315]},
                    "original_value": ["measurement_source_value", "value_as_number"]}}}},
        },
    }


def gen_bulk(rng):
    sexes = ["M", "F", "U"]
    persons = [["person_id", "sex", "dob"]]
    for i in range(BULK_PERSONS):
        dob = datetime.date(1910, 1, 1) + datetime.timedelta(days=rng.randrange(32000))
        persons.append([f"p{i}", rng.choice(sexes), dob.isoformat()])
    meas = [["person_id", "mdate", "val"]]
    for _ in range(BULK_MEAS):
        d = datetime.date(2000, 1, 1) + datetime.timedelta(days=rng.randrange(9000))
        meas.append([f"p{rng.randrange(BULK_PERSONS)}", d.isoformat(),
                     f"{rng.randrange(1000)}.{rng.randrange(100):02d}"])
    return {"src_PERSON.csv": persons, "src_MEAS.csv": meas}, bulk_rules()


def multi_rules():
    def pid(f):
        return {"source_field": f, "dest_field": "person_id"}

    def date(f, dest):
        return {"source_field": f, "dest_field": [dest]}

    return {
        "metadata": {"dataset": "multi_source"},
        "cdm": {
            "person": {"Demographics.csv": {
                "person_id_mapping": pid("PersonID"),
                "date_mapping": date("date_of_birth", "birth_datetime"),
                "concept_mappings": {
                    "sex": {
                        "M": {"gender_concept_id": [8507], "gender_source_concept_id": [8507]},
                        "F": {"gender_concept_id": [8532], "gender_source_concept_id": [8532]},
                        "original_value": ["gender_source_value"]},
                    "ethnicity": {
                        "White": {"ethnicity_concept_id": [38003564]},
                        "Asian": {"ethnicity_concept_id": [38003563]},
                        "original_value": ["ethnicity_source_value"]}}}},
            "observation": {
                "Symptoms.csv": {
                    "person_id_mapping": pid("PersonID"),
                    "date_mapping": date("visit_date", "observation_datetime"),
                    "concept_mappings": {
                        "symptom1": {"Y": {"observation_concept_id": [254761],
                                           "observation_source_concept_id": [254761]},
                                     "original_value": ["observation_source_value"]},
                        "symptom2": {"Y": {"observation_concept_id": [437663]},
                                     "original_value": ["observation_source_value"]},
                        "symptom3": {"Y": {"observation_concept_id": [4223659, 4168213]},
                                     "original_value": ["observation_source_value"]}}},
                "Covid19_test.csv": {
                    "person_id_mapping": pid("PersonID"),
                    "date_mapping": date("date", "observation_datetime"),
                    "concept_mappings": {"result": {
                        "POSITIVE": {"observation_concept_id": [4126681, 45877985]},
                        "NEGATIVE": {"observation_concept_id": [45878583]},
                        "POS": {"observation_concept_id": [4126681]},
                        "original_value": ["observation_source_value"]}}},
                "scans.csv": {
                    "person_id_mapping": pid("pid"),
                    "date_mapping": date("date", "observation_datetime"),
                    "concept_mappings": {"clock": {
                        "12": {"observation_concept_id": [4059317]},
                        "13": {"observation_concept_id": [4059318]},
                        "original_value": ["observation_source_value"]}}},
            },
            "measurement": {
                "covid19_antibody.csv": {
                    "person_id_mapping": pid("PersonID"),
                    "date_mapping": date("date", "measurement_datetime"),
                    "concept_mappings": {
                        "IgG": {"*": {"measurement_concept_id": [37398191]},
                                "original_value": ["measurement_source_value", "value_as_number"]},
                        "ABresult": {"Positive": {"measurement_concept_id": [3013682, 4181412]},
                                     "Negative": {"measurement_concept_id": [3007458]},
                                     "original_value": ["value_source_value"]}}},
                "Covid19_test.csv": {
                    "person_id_mapping": pid("PersonID"),
                    "date_mapping": date("date", "measurement_datetime"),
                    "concept_mappings": {"result": {
                        "POSITIVE": {"measurement_concept_id": [586520, 706163, 706170],
                                     "value_as_concept_id": [4126681]},
                        "NEGATIVE": {"measurement_concept_id": [586520, 706163],
                                     "value_as_concept_id": [9189]},
                        "original_value": ["measurement_source_value"]}}},
            },
            "condition_occurrence": {
                "Covid19_test.csv": {
                    "person_id_mapping": pid("PersonID"),
                    "date_mapping": date("date", "condition_start_datetime"),
                    "concept_mappings": {"result": {
                        "POSITIVE": {"condition_concept_id": [37311061]},
                        "POS": {"condition_concept_id": [37311061, 439676]},
                        "original_value": ["condition_source_value"]}}},
                "scans.csv": {
                    "person_id_mapping": pid("pid"),
                    "date_mapping": date("date", "condition_start_datetime"),
                    "concept_mappings": {"clock": {
                        "13": {"condition_concept_id": [4042502]},
                        "7": {"condition_concept_id": [4042503, 4042504]},
                        "original_value": ["condition_source_value"]}}},
            },
        },
    }


def gen_multi(rng, seed):
    def hexid(i):
        return hashlib.sha256(f"{seed}:{i}".encode()).hexdigest()

    persons = [["PersonID", "sex", "date_of_birth", "ethnicity"]]
    ids = [hexid(i) for i in range(MULTI_PERSONS)]
    dup_later = []
    for i, p in enumerate(ids):
        dob = (datetime.date(1930, 1, 1) + datetime.timedelta(days=rng.randrange(27000))).isoformat()
        r = rng.random()
        if r < SHARE_BAD_DOB:
            dob = rng.choice(["unknown", "N/A"])
        elif r < SHARE_BAD_DOB + SHARE_BAD_CALENDAR:
            dob = f"{rng.randrange(1930, 2000)}-02-{rng.choice([30, 31])}"
        sex = "" if rng.random() < SHARE_EMPTY else rng.choice(["M", "F", "F", "M", "X"])
        eth = "" if rng.random() < SHARE_EMPTY else rng.choice(["White", "Asian", "Other"])
        persons.append([p, sex, dob, eth])
        if rng.random() < SHARE_DUP_PERSON:
            # a later row for the same id: ignored by first-row-wins
            later = (datetime.date(1930, 1, 1) + datetime.timedelta(days=rng.randrange(27000))).isoformat()
            dup_later.append([p, rng.choice(["M", "F"]), later, rng.choice(["White", "Asian"])])
    for row in dup_later:
        persons.insert(rng.randrange(len(persons) // 2, len(persons) + 1), row)

    def person_ref():
        if rng.random() < SHARE_UNKNOWN_PERSON:
            return hexid(10_000_000 + rng.randrange(1_000_000))
        return rng.choice(ids)

    def event_date(style):
        if rng.random() < SHARE_BAD_DATE:
            return rng.choice(["unknown", "not recorded", ""])
        d = datetime.date(2020, 1, 1) + datetime.timedelta(days=rng.randrange(900))
        if style == "datetime":
            return f"{d.isoformat()} {rng.randrange(24):02d}:{rng.randrange(60):02d}:{rng.randrange(60):02d}.{rng.randrange(10**6):06d}"
        if style == "dayfirst":
            return d.strftime("%d/%m/%Y")
        return d.isoformat()

    def val(choices):
        return "" if rng.random() < SHARE_EMPTY else rng.choice(choices)

    files = {"Demographics.csv": persons}
    n = MULTI_EVENTS
    files["Symptoms.csv"] = [["PersonID", "visit_date", "symptom1", "symptom2", "symptom3"]] + [
        [person_ref(), event_date("datetime"), val("YN"), val("YN"), val("YNN")]
        for _ in range(n["Symptoms.csv"])]
    files["covid19_antibody.csv"] = [["PersonID", "date", "ABresult", "IgG"]] + [
        [person_ref(), event_date("iso"), val(["Positive", "Negative", "Inconclusive"]),
         val([f"{rng.randrange(200)}.{rng.randrange(1000):03d}", str(rng.randrange(90))])]
        for _ in range(n["covid19_antibody.csv"])]
    files["Covid19_test.csv"] = [["PersonID", "date", "result"]] + [
        [person_ref(), event_date("dayfirst"), val(["POSITIVE", "NEGATIVE", "POS", "NEG", "VOID"])]
        for _ in range(n["Covid19_test.csv"])]
    files["scans.csv"] = [["pid", "date", "clock"]] + [
        [person_ref(), event_date("iso"), val(["0", "1", "7", "12", "13"])]
        for _ in range(n["scans.csv"])]
    files["vaccine.csv"] = [["PersonID", "vacc_date", "Dose", "vaccine_name"]] + [
        [person_ref(), event_date("iso"), val(["1", "2", "3"]), val(["Pfizer", "Moderna", "AZ"])]
        for _ in range(n["vaccine.csv"])]
    return files, multi_rules()


# ---------------------------------------------------- semantics (reference)

_YEAR_FIRST = re.compile(r"^(\d{4})[-/](\d{2})[-/](\d{2})")
_DAY_FIRST = re.compile(r"^(\d{2})[-/](\d{2})[-/](\d{4})")


def normalises(raw):
    """normalise_to8601 accepts the value (event-date row filter)."""
    p0 = raw.split(" ")[0]
    return bool(_YEAR_FIRST.match(p0) or _DAY_FIRST.match(p0))


def strict_date(raw):
    """Strict date-only parse (%Y-%m-%d, %d-%m-%Y, %d/%m/%Y): date or None."""
    for pat, order in ((r"^(\d{1,4})-(\d{1,2})-(\d{1,2})$", "ymd"),
                       (r"^(\d{1,2})-(\d{1,2})-(\d{1,4})$", "dmy"),
                       (r"^(\d{1,2})/(\d{1,2})/(\d{1,4})$", "dmy")):
        m = re.match(pat, raw)
        if m:
            a, b, c = (int(x) for x in m.groups())
            y, mo, d = (a, b, c) if order == "ymd" else (c, b, a)
            try:
                return datetime.date(y, mo, d)
            except ValueError:
                return None
    return None


def combinations(dest_map):
    """Zip-aligned concept combinations, padding with the last element."""
    dests = {d: ids for d, ids in dest_map.items() if ids}
    if not dests:
        return [{}]
    n = max(len(ids) for ids in dests.values())
    return [{d: str(ids[min(i, len(ids) - 1)]) for d, ids in dests.items()} for i in range(n)]


# the concept column of each event table: its third column, after the
# auto-number and the person id
CONCEPT_COL = {"measurement": "measurement_concept_id",
               "observation": "observation_concept_id",
               "condition_occurrence": "condition_concept_id"}


def expectations(files, rules):
    cdm = rules["cdm"]
    mappings = [(t, s, m) for t, srcs in cdm.items() for s, m in srcs.items()]
    sources = list(dict.fromkeys(s for _, s, _ in mappings))
    tables = {}
    for name, rows in files.items():
        hdr = rows[0]
        tables[name] = [dict(zip(hdr, r)) for r in rows[1:]]

    counts = {}

    def add(key, kind):
        c = counts.setdefault(key, {})
        c[kind] = c.get(kind, 0) + 1

    # person dictionary: non-empty id + strict birth date, first row wins,
    # dense ids in file order
    (_, psrc, pm), = [x for x in mappings if x[0] == "person"]
    pid_f, dob_f = pm["person_id_mapping"]["source_field"], pm["date_mapping"]["source_field"]
    lookup = {}
    for r in tables[psrc]:
        if r[pid_f].strip() != "" and strict_date(r[dob_f]) is not None and r[pid_f] not in lookup:
            lookup[r[pid_f]] = str(len(lookup) + 1)

    for src in sources:
        date_cols = list(dict.fromkeys(m["date_mapping"]["source_field"] for _, s, m in mappings if s == src))
        for r in tables[src]:
            add((src, "all", "all", "all", ""), "input_count")
            if all(normalises(r[c]) for c in date_cols):
                for t, s, m in mappings:
                    if s == src and t != "person":
                        for f in m["concept_mappings"]:
                            if r[f].strip() == "":
                                add((src, f, t, "all", ""), "invalid_source")

    out = {}
    for target in cdm:
        cands = []  # (source, datacol, pid, concept, year) in processing order
        for fidx, src in enumerate(sources):
            if src not in cdm[target]:
                continue
            m = cdm[target][src]
            dcol = m["date_mapping"]["source_field"]
            pcol = m["person_id_mapping"]["source_field"]
            cms = m["concept_mappings"]
            rows = [r for r in tables[src] if normalises(r[dcol])]
            if target == "person":
                seen = set()
                first_field = next(iter(cms))
                for r in rows:
                    if r[pcol] in seen:
                        continue
                    seen.add(r[pcol])
                    # a row emits a person record when some field maps a
                    # concept or carries an original value; every value
                    # maps to one combination here, so one record at most
                    valid = {f: r[f].strip() != "" for f in cms}
                    if not any(valid[f] and (r[f] in vm or vm.get("original_value"))
                               for f, vm in cms.items()):
                        continue
                    gender = "0"
                    for f, vm in cms.items():
                        hit = vm.get(r[f]) if valid[f] and r[f] != "original_value" else None
                        if hit and "gender_concept_id" in hit:
                            gender = combinations(hit)[0]["gender_concept_id"]
                    d = strict_date(r[dcol].split(" ")[0])
                    if d is None:
                        add((src, first_field, target, "all", ""), "invalid_date")
                        continue
                    cands.append((src, first_field, r[pcol], gender, str(d.year)))
            else:
                for r in rows:
                    for f, vm in cms.items():
                        v = r[f]
                        if v.strip() == "":
                            continue
                        values = {k: x for k, x in vm.items() if k != "original_value"}
                        spec = values.get(v, values.get("*"))
                        if spec is None:
                            continue
                        for combo in combinations(spec):
                            cands.append((src, f, r[pcol], combo.get(CONCEPT_COL[target], "0"), None))
        rows = []
        for i, (src, f, p, concept, year) in enumerate(cands, start=1):
            if p not in lookup:
                add((src, "all", target, "all", ""), "invalid_persid")
                continue
            keys = [(src, "all", "all", "all", ""), ("all", "all", target, "all", ""),
                    (src, "all", target, "all", "")]
            if target == "person":
                keys += [(src, "all", target, concept, ""), (src, "all", target, concept, year)]
                rows.append(f"{lookup[p]}\t{concept}\t{year}")
            else:
                keys += [(src, f, target, concept, ""), (src, "all", target, concept, ""),
                         ("all", "all", target, concept, ""), ("all", "all", "all", concept, "")]
                rows.append(f"{i}\t{lookup[p]}\t{concept}")
            for k in keys:
                add(k, "outcount")
        out[target] = {"rows": len(rows), "max_id": len(cands) if target != "person" else None,
                       "sha256": digest(rows)}

    summary = []
    for key in sorted(counts, key=lambda k: "~".join(k)):
        c = counts[key]
        src, field, table, concept, additional = key
        summary.append("\t".join([rules["metadata"]["dataset"], src.split(".")[0], field, table,
                                  concept, additional] +
                                 [str(c.get(k, 0)) for k in
                                  ("input_count", "invalid_persid", "invalid_date",
                                   "invalid_source", "outcount")]))
    pairs = sorted(f"{s}\t{t}" for s, t in lookup.items())
    run_log = {src: {"input": counts[(src, "all", "all", "all", "")]["input_count"],
                     "targets": {t: counts.get((src, "all", t, "all", ""), {}).get("outcount", 0)
                                 for t, s, _ in mappings if s == src}}
               for src in sources}
    return {
        "input_rows": sum(len(tables[s]) for s in sources),
        "tables": out,
        "person_ids": {"rows": len(pairs), "sha256": digest(pairs)},
        "summary_mapstream": summary,
        "run_log": run_log,
    }


def digest(lines):
    h = hashlib.sha256()
    for line in lines:
        h.update(line.encode())
        h.update(b"\n")
    return h.hexdigest()


def make(workload, seed, outdir):
    rng = random.Random(f"{workload}:{seed}")
    if workload == "etl_bulk":
        files, rules = gen_bulk(rng)
    elif workload == "etl_multi":
        files, rules = gen_multi(rng, seed)
    else:
        raise ValueError(f"unknown workload {workload}")
    indir = os.path.join(outdir, "in")
    os.makedirs(indir, exist_ok=True)
    for name, rows in files.items():
        with open(os.path.join(indir, name), "w") as f:
            f.writelines(",".join(r) + "\n" for r in rows)
    with open(os.path.join(outdir, "rules.json"), "w") as f:
        json.dump(rules, f, indent=1)
    exp = expectations(files, rules)
    exp["source_bytes"] = sum(os.path.getsize(os.path.join(indir, n)) for n in files)
    with open(os.path.join(outdir, "expect.json"), "w") as f:
        json.dump(exp, f, indent=1)
    return exp


if __name__ == "__main__":
    e = make(sys.argv[1], int(sys.argv[2]), sys.argv[3])
    print(json.dumps({k: v for k, v in e.items() if k != "summary_mapstream"}, indent=1))
