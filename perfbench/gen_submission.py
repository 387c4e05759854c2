"""Seeded SeroNet-shaped submission generator with a planted-error manifest.

A submission is a directory of CSV sheets: ``submission.csv`` plus the ten
data sheets the validator merges and cross-checks. Clean rows pass every
catalog rule. Planted errors touch only leaf columns (no rule gate, merge
key or cross-sheet presence column reads them), so each planted cell yields
exactly one error row, and the manifest can state the expected error count
per (sheet, column, Message_Type) without running the validator.

The dirty variant also plants duplicate IDs (one "Id is repeated" error per
ID that repeats after the context merges), cross-sheet participant orphans
(one error per ID) and biospecimen orphans (one error per row of the
biospecimen presence matrix), and declares participant and biospecimen
counts that do not reconcile.
"""
import collections
import datetime
import os
import random

CBC = 14
AS_OF = datetime.date(2025, 6, 30)
PBMC = "PBMC"
BIO_TYPES = ["Serum", "EDTA Plasma", PBMC, "Saliva", "Nasal swab"]
ICD10 = ["E11.9", "I10", "J45.909", "K21.9", "E78.5", "F41.9", "G47.33",
         "E66.9", "N18.3", "J44.9", "Z87.891", "N/A"]
ASSAYS = 8
PAST = "01/01/2001"

SHEETS = {
    "prior_clinical_test.csv": [
        "Research_Participant_ID", "SARS_CoV_2_PCR_Test_Result",
        "SARS_CoV_2_PCR_Test_Result_Provenance",
        "Date_of_SARS_CoV_2_PCR_sample_collection",
        "Seasonal_Coronavirus_Serology_Result"],
    "demographic.csv": [
        "Research_Participant_ID", "Age", "Race", "Ethnicity", "Gender",
        "Hypertension", "Other_Comorbidity"],
    "biospecimen.csv": [
        "Research_Participant_ID", "Biospecimen_ID", "Biospecimen_Group",
        "Biospecimen_Type", "Initial_Volume_of_Biospecimen",
        "Collection_Tube_Type_Expiration_Date",
        "Biospecimen_Collection_Company_Clinic", "Date_of_Biospecimen_Collection",
        "Total_Cells_Hemocytometer_Count", "Live_Cells_Hemocytometer_Count",
        "Viability_Hemocytometer_Count"],
    "aliquot.csv": [
        "Aliquot_ID", "Biospecimen_ID", "Aliquot_Volume", "Aliquot_Units",
        "Aliquot_Tube_Type_Lot_Number", "Aliquot_Tube_Type_Expiration_Date"],
    "equipment.csv": [
        "Equipment_ID", "Biospecimen_ID", "Equipment_Type",
        "Equipment_Calibration_Due_Date"],
    "reagent.csv": [
        "Biospecimen_ID", "Reagent_Name", "Reagent_Lot_Number",
        "Reagent_Expiration_Date"],
    "consumable.csv": [
        "Biospecimen_ID", "Consumable_Name", "Consumable_Expiration_Date"],
    "assay.csv": [
        "Assay_ID", "Assay_Name", "EUA_Status", "Assay_Multiplicity"],
    "assay_target.csv": [
        "Assay_ID", "Assay_Target", "Assay_Antigen_Source",
        "Assay_Target_Sub_Region"],
    "confirmatory_clinical_test.csv": [
        "Research_Participant_ID", "Assay_ID", "Assay_Target",
        "Test_Operator_Initials", "Sample_Type", "Derived_Result",
        "Derived_Result_Units", "Assay_Replicate"],
}

# Leaf columns a planted error may touch: column -> (bad value, Message_Type).
# Every name is unique across sheets, so planted errors never share the
# validator's dedup key (Row_Index, Column_Name, Column_Value).
PLANTS = {
    "prior_clinical_test.csv": {
        "SARS_CoV_2_PCR_Test_Result_Provenance": ("Hearsay", "Error"),
        "Date_of_SARS_CoV_2_PCR_sample_collection": ("not recorded", "Error"),
        "Seasonal_Coronavirus_Serology_Result": ("Maybe", "Error")},
    "demographic.csv": {
        "Age": ("250", "Error"),
        "Race": ("Martian", "Error"),
        "Ethnicity": ("", "Error"),
        "Gender": ("Robot", "Error"),
        "Hypertension": ("Sometimes", "Error"),
        "Other_Comorbidity": ("XYZ123", "Error")},
    "biospecimen.csv": {
        "Initial_Volume_of_Biospecimen": ("-5", "Error"),
        "Collection_Tube_Type_Expiration_Date": (PAST, "Warning"),
        "Biospecimen_Collection_Company_Clinic": ("12345", "Error"),
        "Date_of_Biospecimen_Collection": ("not recorded", "Error")},
    "aliquot.csv": {
        "Aliquot_Volume": ("lots", "Error"),
        "Aliquot_Units": ("42", "Error"),
        "Aliquot_Tube_Type_Lot_Number": ("", "Warning"),
        "Aliquot_Tube_Type_Expiration_Date": (PAST, "Warning")},
    "equipment.csv": {
        "Equipment_Type": ("Toaster", "Error"),
        "Equipment_Calibration_Due_Date": (PAST, "Warning")},
    "reagent.csv": {
        "Reagent_Name": ("Tap Water", "Error"),
        "Reagent_Lot_Number": ("12345", "Error"),
        "Reagent_Expiration_Date": (PAST, "Warning")},
    "consumable.csv": {
        "Consumable_Name": ("Paper Cup", "Error"),
        "Consumable_Expiration_Date": (PAST, "Warning")},
    "assay.csv": {
        "EUA_Status": ("Pending", "Error")},
    "assay_target.csv": {
        "Assay_Target_Sub_Region": ("7", "Error")},
    "confirmatory_clinical_test.csv": {
        "Sample_Type": ("Lava", "Error"),
        "Derived_Result": ("-3", "Error"),
        "Assay_Replicate": ("2.5", "Error"),
        "Test_Operator_Initials": ("", "Error")},
}


def _date(rng, lo, hi):
    d = lo + datetime.timedelta(days=rng.randrange((hi - lo).days))
    return d.strftime("%m/%d/%Y")


def _past(rng):
    return _date(rng, datetime.date(2020, 1, 1), datetime.date(2025, 6, 1))


def _future(rng):
    return _date(rng, datetime.date(2026, 1, 1), datetime.date(2029, 12, 31))


def _participant(rng, pid):
    sars = rng.choice(["Positive", "Negative"])
    prior = [pid, sars, rng.choice(["From Medical Record", "Self-Reported"]),
             _past(rng),
             rng.choice(["Positive", "Negative", "Equivocal", "Not Performed"])]
    demo = [pid, str(rng.randrange(18, 91)),
            rng.choice(["White", "Black or African American", "Asian", "Other",
                        "Multirace", "Not Reported", "Unknown"]),
            rng.choice(["Hispanic or Latino", "Not Hispanic or Latino"]),
            rng.choice(["Male", "Female", "Other", "Not Reported"]),
            rng.choice(["Yes", "No"]), rng.choice(ICD10)]
    return sars, prior, demo


def _biospecimen(rng, pid, bid, sars, btype):
    if btype == PBMC:
        # live/total*100 is an exact tenth, so the viability rule's
        # half-even rounding to one decimal reproduces the stated value
        total = 1000 * rng.randrange(1000, 5000)
        per_mille = rng.randrange(700, 990)
        cells = [str(total), str(total * per_mille // 1000), f"{per_mille / 10:.1f}"]
    else:
        cells = ["N/A", "N/A", "N/A"]
    return [pid, bid, sars + " Sample", btype, f"{rng.randrange(10, 100) / 10:.1f}",
            _future(rng), rng.choice(["Clinic North", "Clinic South", "Mobile Unit"]),
            _past(rng), *cells]


def _aliquot(rng, aid, bid):
    return [aid, bid, f"{rng.randrange(5, 50) / 10:.1f}", "mL",
            f"LOT-{rng.randrange(1000, 9999)}", _future(rng)]


def _children(rng, bid, n):
    eq = [f"EQ-{n:06d}", bid, rng.choice([
        "Refrigerator", "-80 Refrigerator", "LN Refrigerator", "Microsope",
        "Pipettor", "Controlled-Rate Freezer", "Automated-Cell Counter"]), _future(rng)]
    re_ = [bid, rng.choice(["DPBS", "Ficoll-Hypaque", "RPMI-1640", "DMSO",
                            "Fetal Bovine Serum", "Vital Stain Dye"]),
           f"RL-{rng.randrange(1000, 9999)}", _future(rng)]
    co = [bid, rng.choice(["50 mL Polypropylene Tube", "15 mL Conical Tube",
                           "Cryovial Label"]), _future(rng)]
    return eq, re_, co


def _assays(rng):
    assays, targets = [], []
    for n in range(1, ASSAYS + 1):
        aid = f"{CBC}_{n:03d}"
        assays.append([aid, f"Serology-{n}",
                       rng.choice(["Approved", "Submitted", "Not Submitted", "N/A"]),
                       rng.choice(["Multiplex", "Singleplex"])])
        targets.append([aid, rng.choice(["Spike", "Nucleocapsid"]),
                        rng.choice(["Manufacturer", "In-house"]),
                        rng.choice(["RBD", "S1", "Full length"])])
    return assays, targets


def _confirm(rng, pid, assay, target):
    return [pid, assay, target, rng.choice(["AB", "CD", "EF"]),
            rng.choice(["Serum", "Plasma", "Venous Whole Blood", "Dried Blood Spot"]),
            f"{rng.randrange(1, 5000) / 10:.1f}", "AU/mL", str(rng.randrange(1, 4))]


def _csv_cell(v):
    return '"' + v.replace('"', '""') + '"' if ("," in v or '"' in v) else v


def generate(out_dir, seed, participants, dirty):
    """Write one submission under ``out_dir`` and return its manifest."""
    rng = random.Random(f"{seed}:{participants}:{'dirty' if dirty else 'clean'}")
    rows = {name: [] for name in SHEETS}
    pids = [f"{CBC}_{i:06d}" for i in sorted(rng.sample(range(1, 1000000), participants))]
    assays, targets = _assays(rng)
    rows["assay.csv"] = assays
    rows["assay_target.csv"] = targets
    # dirty: participants that become cross-sheet orphans
    kinds = {}
    if dirty:
        k = max(1, participants // 50)
        for j, i in enumerate(rng.sample(range(participants), 3 * k)):
            kinds[pids[i]] = ["no_bio", "demo_only", "bio_only"][j % 3]
    bio_type = {}
    for pid in pids:
        sars, prior, demo = _participant(rng, pid)
        kind = kinds.get(pid)
        if kind in (None, "no_bio"):
            rows["prior_clinical_test.csv"].append(prior)
        if kind in (None, "no_bio", "demo_only"):
            rows["demographic.csv"].append(demo)
        if kind in ("no_bio", "demo_only"):
            continue
        for b in sorted(rng.sample(range(1, 1000), 2)):
            bid = f"{pid}_{b:03d}"
            btype = rng.choices(BIO_TYPES, weights=[3, 2, 3, 1, 1])[0]
            bio_type[bid] = btype
            rows["biospecimen.csv"].append(_biospecimen(rng, pid, bid, sars, btype))
            for a in sorted(rng.sample(range(1, 100), 2)):
                rows["aliquot.csv"].append(_aliquot(rng, f"{bid}_{a:02d}", bid))
            if btype == PBMC:
                eq, re_, co = _children(rng, bid, len(rows["equipment.csv"]) + 1)
                rows["equipment.csv"].append(eq)
                rows["reagent.csv"].append(re_)
                rows["consumable.csv"].append(co)
        if kind is None and rng.random() < 0.5:
            a = rng.randrange(ASSAYS)
            rows["confirmatory_clinical_test.csv"].append(
                _confirm(rng, pid, assays[a][0], targets[a][1]))
    if dirty:
        _dirty_structure(rng, rows, bio_type, pids)

    expected = collections.Counter()
    rate = 0.85 if dirty else 0.01
    gate = _gates(rows)
    for name, plants in PLANTS.items():
        cols = SHEETS[name]
        for row in rows[name]:
            if rng.random() >= rate:
                continue
            menu = [c for c in sorted(plants) if gate(name, c, row)]
            k = rng.randrange(1, min(3, len(menu)) + 1) if dirty else 1
            for column in rng.sample(menu, k):
                bad, severity = plants[column]
                row[cols.index(column)] = bad
                expected[(name, column, severity)] += 1

    _dup_ids(rows, expected)
    _cross_sheet(rows, expected)
    passing_p = len({r[0] for name in ("prior_clinical_test.csv", "demographic.csv",
                                        "biospecimen.csv", "confirmatory_clinical_test.csv")
                     for r in rows[name]})
    passing_b = len({r[SHEETS[name].index("Biospecimen_ID")]
                     for name in ("biospecimen.csv", "aliquot.csv", "equipment.csv",
                                  "reagent.csv", "consumable.csv") for r in rows[name]})
    # clean submissions declare the counts that reconcile; dirty ones do not
    declared_p = passing_p + (1 if dirty else 0)
    declared_b = passing_b + (1 if dirty else 0)
    if dirty:
        expected[("submission.csv", "submit_Participant_IDs", "Error")] += 1
        expected[("submission.csv", "submit_Biospecimen_IDs", "Error")] += 1

    os.makedirs(out_dir, exist_ok=True)
    total_bytes = 0
    texts = {"submission.csv": (f"submission,CBC_{CBC}\nsubmitter,perfbench\n"
                                f"participants,{declared_p}\nbiospecimens,{declared_b}\n")}
    for name, cols in SHEETS.items():
        lines = [",".join(cols)] + [",".join(_csv_cell(v) for v in r) for r in rows[name]]
        texts[name] = "\n".join(lines) + "\n"
    for name, text in texts.items():
        data = text.encode()
        with open(os.path.join(out_dir, name), "wb") as f:
            f.write(data)
        total_bytes += len(data)

    return {
        "seed": seed, "participants": participants, "dirty": dirty,
        "cbc": CBC, "as_of": AS_OF.isoformat(),
        "data_rows": sum(len(v) for v in rows.values()),
        "csv_bytes": total_bytes,
        "expected": {"|".join(k): v for k, v in sorted(expected.items())},
        "status": expected_status(sorted(texts), expected),
    }


def _dirty_structure(rng, rows, bio_type, pids):
    """Duplicate IDs and biospecimen orphans. A duplicate copies the whole
    row, so every merge that joins it sees the same borrowed values."""
    k = max(1, len(pids) // 100)
    for name in ("prior_clinical_test.csv", "demographic.csv",
                 "confirmatory_clinical_test.csv", "biospecimen.csv", "aliquot.csv"):
        sheet = rows[name]
        for r in rng.sample(range(len(sheet)), min(len(sheet), k)):
            sheet.append(list(sheet[r]))
    bios = sorted(bio_type)
    rng.shuffle(bios)
    pbmc = [b for b in bios if bio_type[b] == PBMC]
    other = [b for b in bios if bio_type[b] != PBMC]
    # aliquots whose biospecimen was never submitted
    for j in range(k):
        bid = f"{rng.choice(pids)}_{999 - j % 999:03d}"
        if bid not in bio_type:
            rows["aliquot.csv"].append(_aliquot(rng, f"{bid}_01", bid))
    # equipment rows on non-PBMC biospecimens
    for j, bid in enumerate(other[:k]):
        rows["equipment.csv"].append(_children(rng, bid, 900000 + j)[0])
    # PBMC biospecimens whose reagent row is missing
    drop = set(pbmc[:k])
    rows["reagent.csv"] = [r for r in rows["reagent.csv"] if r[0] not in drop]
    # biospecimens with no aliquot
    gone = set(other[k:2 * k])
    rows["aliquot.csv"] = [r for r in rows["aliquot.csv"] if r[1] not in gone]


def _gates(rows):
    """Whether a planted value in (sheet, column) reaches its rule: the
    PBMC-only processing rules need the row's biospecimen to be a submitted
    PBMC one, and the SARS-gated demographic rule needs a prior test row."""
    btype = {r[1]: r[3] for r in rows["biospecimen.csv"]}
    tested = {r[0] for r in rows["prior_clinical_test.csv"]}
    pbmc_only = {"Equipment_Type", "Reagent_Name", "Consumable_Name"}

    def gate(name, column, row):
        if column in pbmc_only:
            return btype.get(row[SHEETS[name].index("Biospecimen_ID")]) == PBMC
        if column == "Hypertension":
            return row[0] in tested
        return True
    return gate


def _merge_multiplicity(rows):
    """How many rows each sheet row becomes after the validator's context
    merges (left joins on the context sheets' key slices)."""
    def counter(name, *cols):
        idx = [SHEETS[name].index(c) for c in cols]
        return collections.Counter(tuple(r[i] for i in idx) for r in rows[name])
    prior = counter("prior_clinical_test.csv", "Research_Participant_ID")
    demo = counter("demographic.csv", "Research_Participant_ID")
    bio = counter("biospecimen.csv", "Biospecimen_ID")
    assay = counter("assay.csv", "Assay_ID")
    target = counter("assay_target.csv", "Assay_ID", "Assay_Target")

    def m(c, key):
        return max(1, c[key])

    def mult(name, r):
        if name == "prior_clinical_test.csv":
            return m(demo, (r[0],))
        if name == "demographic.csv":
            return m(prior, (r[0],))
        if name == "biospecimen.csv":
            return m(prior, (r[0],)) * m(demo, (r[0],))
        if name in ("aliquot.csv", "equipment.csv", "reagent.csv", "consumable.csv"):
            return m(bio, (r[SHEETS[name].index("Biospecimen_ID")],))
        if name == "assay_target.csv":
            return m(assay, (r[0],))
        if name == "confirmatory_clinical_test.csv":
            return m(assay, (r[1],)) * m(target, (r[1], r[2]))
        return 1
    return mult


# (sheet, column) pairs the validator checks for repeated IDs, in the
# (alphabetical) order it visits the sheets
DUP_CHECKED = [("aliquot.csv", "Aliquot_ID"), ("assay.csv", "Assay_ID"),
               ("biospecimen.csv", "Biospecimen_ID"),
               ("confirmatory_clinical_test.csv", "Research_Participant_ID"),
               ("demographic.csv", "Research_Participant_ID"),
               ("prior_clinical_test.csv", "Research_Participant_ID")]


def _dup_ids(rows, expected):
    """One error per ID repeated in a sheet after its context merges (a
    duplicated context row repeats the rows that join it). The error sits at
    Row_Index -3, so an ID repeated in two sheets shares one dedup key and
    only the sheet visited first keeps it."""
    mult = _merge_multiplicity(rows)
    seen = set()
    for name, column in DUP_CHECKED:
        idx = SHEETS[name].index(column)
        counts = collections.Counter()
        for r in rows[name]:
            if r[idx] != "":
                counts[r[idx]] += mult(name, r)
        for value, n in counts.items():
            if n > 1 and (column, value) not in seen:
                seen.add((column, value))
                expected[(name, column, "Error")] += 1


def _cross_sheet(rows, expected):
    """Cross_Participant_ID / Cross_Biospecimen_ID errors implied by the rows."""
    def count(name, key):
        c = collections.Counter()
        idx = SHEETS[name].index(key)
        for r in rows[name]:
            c[r[idx]] += 1
        return c
    part = {n: count(n, "Research_Participant_ID") for n in (
        "prior_clinical_test.csv", "demographic.csv", "biospecimen.csv",
        "confirmatory_clinical_test.csv")}
    n_part = 0
    for pid in set().union(*part.values()):
        prior, demo, bio = (part[n][pid] > 0 for n in (
            "prior_clinical_test.csv", "demographic.csv", "biospecimen.csv"))
        if not (prior and demo and bio) and (prior or demo or bio):
            n_part += 1
    if n_part:
        expected[("Cross_Participant_ID.csv", "Research_Participant_ID", "Error")] += n_part

    chain = ["biospecimen.csv", "aliquot.csv", "equipment.csv", "reagent.csv",
             "consumable.csv"]
    bio = {n: count(n, "Biospecimen_ID") for n in chain}
    btype = {r[1]: r[3] for r in rows["biospecimen.csv"]}
    n_bio = 0
    for bid in set().union(*bio.values()):
        cnt = [bio[n][bid] for n in chain]
        if all(cnt):
            continue
        has_bio, has_aliquot = cnt[0] > 0, cnt[1] > 0
        fires = has_bio != has_aliquot
        for c in cnt[2:]:
            fires |= (not has_bio and c > 0)
            fires |= has_bio and btype[bid] != PBMC and c > 0
            fires |= has_bio and btype[bid] == PBMC and c == 0
        if fires:
            rows_in_matrix = 1
            for c in cnt:
                rows_in_matrix *= max(1, c)
            n_bio += rows_in_matrix
    if n_bio:
        expected[("Cross_Biospecimen_ID.csv", "Biospecimen_ID", "Error")] += n_bio


def expected_status(sheets, expected):
    """StatusDerivation.derive for the planted error counts."""
    sev = collections.Counter()
    for (sheet, _, severity), n in expected.items():
        sev[(sheet, severity)] += n
    statuses = []
    for s in sheets:
        if sev[(s, "Error")] > 0:
            statuses.append("FILE_PROCESSED_ERRORS_FOUND")
        elif sev[(s, "Warning")] > 0:
            statuses.append("FILE_PROCESSED_WARNINGS_FOUND")
        else:
            statuses.append("FILE_PROCESSED_SUCCESS")
    if "FILE_PROCESSED_ERRORS_FOUND" in statuses:
        batch = "FILE_VALIDATION_FAILURE"
    elif "FILE_PROCESSED_WARNINGS_FOUND" in statuses:
        batch = "FILE_VALIDATION_SUCCESS_WARNINGS"
    else:
        batch = "FILE_VALIDATION_SUCCESS"
    return [[s, st, batch] for s, st in zip(sheets, statuses)]

