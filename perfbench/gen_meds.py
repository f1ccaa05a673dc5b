"""Seeded generator of a synthetic MEDS shard.

Writes `(subject_id: int64, time: timestamp[us], code: string,
numeric_value: float32)` rows sorted by (subject_id, time), static rows
(null time) first, as a directory of parquet files.

Shape:
  - two static rows per subject (sex, ethnicity) with null time, and a
    MEDS_BIRTH row;
  - heavy-tailed subject lengths: the admission count per subject is
    Pareto-distributed;
  - each admission is ADMISSION//<type> -> a stay of measurement instants
    -> DISCHARGE//<disposition>; a minority of subjects have ICU stays
    (ICU_ADMISSION//<unit> ... ICU_DISCHARGE//<unit>) inside admissions;
  - a few subjects die (MEDS_DEATH), in hospital or shortly after;
  - every measurement instant carries several codes drawn from a Zipfian
    vocabulary of about 10k codes, so the same-instant collapse has work;
  - outpatient visits between admissions.

Usage: python3 gen_meds.py --rows N --seed S --out DIR
"""

import argparse
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB_SIZE = 10_000
ZIPF_S = 1.1
HOUR_US = 3_600 * 1_000_000
DAY_US = 24 * HOUR_US
EPOCH_2010_US = 1_262_304_000 * 1_000_000
ROWS_PER_SUBJECT = 183  # measured mean; sizes the subject count
NULL_TIME = np.iinfo(np.int64).min
FILES = 8

ADMISSION_TYPES = ["ADMISSION//MEDICAL", "ADMISSION//SURGICAL", "ADMISSION//ED"]
DISCHARGE_TYPES = ["DISCHARGE//HOME", "DISCHARGE//SNF", "DISCHARGE//REHAB"]
ICU_UNITS = ["MICU", "SICU", "CCU", "CVICU"]
STATIC_CODES = ["SEX//F", "SEX//M", "ETHNICITY//A", "ETHNICITY//B", "ETHNICITY//C"]


def vocabulary():
    prefixes = ["LAB", "VITALS", "ICD10CM", "RX", "PROC"]
    codes = [f"{prefixes[k % 5]}//{k:05d}" for k in range(VOCAB_SIZE)]
    numeric = np.array([k % 5 in (0, 1) for k in range(VOCAB_SIZE)])
    return codes, numeric


def generate(rows: int, seed: int):
    """Return the shard as sorted (subject_id, time_us, code_index, value)
    arrays plus the code list that code_index points into. A null time is
    NULL_TIME and a null value NaN."""
    rng = np.random.default_rng(seed)
    vocab, vocab_numeric = vocabulary()
    special = ADMISSION_TYPES + DISCHARGE_TYPES + \
        [f"ICU_ADMISSION//{u}" for u in ICU_UNITS] + \
        [f"ICU_DISCHARGE//{u}" for u in ICU_UNITS] + \
        STATIC_CODES + ["MEDS_BIRTH", "MEDS_DEATH", "DISCHARGE//DIED", "OUTPATIENT_VISIT"]
    codes = vocab + special
    code_ix = {c: VOCAB_SIZE + i for i, c in enumerate(special)}

    # Over-generate subjects, then keep whole subjects up to `rows` rows, so
    # every seed gives (nearly) the same row count.
    n_subj = max(1, int(rows / ROWS_PER_SUBJECT * 1.2))
    subj = np.arange(1, n_subj + 1, dtype=np.int64) * 7 + rng.integers(0, 7, n_subj)

    # Heavy-tailed admission counts (Pareto), capped.
    n_adm = np.minimum(1 + np.floor(rng.pareto(1.6, n_subj) * 1.5), 40).astype(np.int64)
    icu_prone = rng.random(n_subj) < 0.15
    dies = rng.random(n_subj) < np.where(icu_prone, 0.25, 0.03)

    # Admissions: per-subject sequence of (gap, length of stay).
    a_subj = np.repeat(np.arange(n_subj), n_adm)
    starts = np.concatenate([[0], np.cumsum(n_adm)[:-1]])
    a_last = np.zeros(len(a_subj), dtype=bool)
    a_last[np.cumsum(n_adm) - 1] = True
    los = (np.exp(rng.normal(4.0, 0.7, len(a_subj))) * HOUR_US).astype(np.int64)  # ~55 h median
    gap = (rng.exponential(120.0, len(a_subj)) * DAY_US).astype(np.int64) + DAY_US
    first_adm = EPOCH_2010_US + (rng.random(n_subj) * 3650 * DAY_US).astype(np.int64)
    # Admission start = subject's first admission + cumulative (gap + los) of earlier ones.
    step = gap + los
    cum = np.cumsum(step)
    cum_before = cum - step
    cum_before -= np.repeat(cum_before[starts], n_adm)
    a_start = np.repeat(first_adm, n_adm) + cum_before
    # Round to minutes: events cluster on charting instants.
    a_start -= a_start % (60 * 1_000_000)
    a_end = a_start + los - (los % (60 * 1_000_000))
    a_icu = icu_prone[a_subj] & (rng.random(len(a_subj)) < 0.6)
    a_death = dies[a_subj] & a_last & (rng.random(len(a_subj)) < 0.6)

    out_subj, out_time, out_code = [], [], []

    def emit(s, t, c):
        out_subj.append(np.asarray(s, dtype=np.int64))
        out_time.append(np.asarray(t, dtype=np.int64))
        out_code.append(np.asarray(c, dtype=np.int64))

    # Statics (null time) and birth.
    emit(np.arange(n_subj), np.full(n_subj, NULL_TIME), code_ix["SEX//F"] + rng.integers(0, 2, n_subj))
    emit(np.arange(n_subj), np.full(n_subj, NULL_TIME), code_ix["ETHNICITY//A"] + rng.integers(0, 3, n_subj))
    birth = first_adm - ((20 + rng.random(n_subj) * 60) * 365 * DAY_US).astype(np.int64)
    birth -= birth % DAY_US
    emit(np.arange(n_subj), birth, np.full(n_subj, code_ix["MEDS_BIRTH"]))

    # Admission / discharge events.
    emit(a_subj, a_start, code_ix["ADMISSION//MEDICAL"] + rng.integers(0, 3, len(a_subj)))
    disch = np.where(a_death, code_ix["DISCHARGE//DIED"],
                     code_ix["DISCHARGE//HOME"] + rng.integers(0, 3, len(a_subj)))
    emit(a_subj, a_end, disch)
    emit(a_subj[a_death], a_end[a_death], np.full(int(a_death.sum()), code_ix["MEDS_DEATH"]))
    # Deaths after the last discharge, for dying subjects not dead in hospital.
    post = dies & ~np.isin(np.arange(n_subj), a_subj[a_death])
    last_end = a_end[a_last]
    post_t = last_end[post] + (rng.random(int(post.sum())) * 90 * DAY_US).astype(np.int64)
    post_t -= post_t % (60 * 1_000_000)
    emit(np.nonzero(post)[0], post_t, np.full(int(post.sum()), code_ix["MEDS_DEATH"]))

    # ICU stays inside admissions.
    ii = np.nonzero(a_icu)[0]
    icu_in = a_start[ii] + (rng.random(len(ii)) * 0.3 * (a_end[ii] - a_start[ii])).astype(np.int64)
    icu_in -= icu_in % (60 * 1_000_000)
    icu_out = icu_in + ((a_end[ii] - icu_in) * (0.3 + 0.6 * rng.random(len(ii)))).astype(np.int64)
    icu_out -= icu_out % (60 * 1_000_000)
    unit = rng.integers(0, len(ICU_UNITS), len(ii))
    emit(a_subj[ii], icu_in, code_ix[f"ICU_ADMISSION//{ICU_UNITS[0]}"] + unit)
    emit(a_subj[ii], icu_out, code_ix[f"ICU_DISCHARGE//{ICU_UNITS[0]}"] + unit)

    # Measurement instants during stays: every ~6 h, several codes each.
    n_inst = np.maximum(1, (a_end - a_start) // (6 * HOUR_US))
    i_adm = np.repeat(np.arange(len(a_subj)), n_inst)
    i_off = (rng.random(len(i_adm)) * (a_end[i_adm] - a_start[i_adm])).astype(np.int64)
    i_time = a_start[i_adm] + i_off
    i_time -= i_time % (60 * 1_000_000)
    # Outpatient visits between admissions: ~2 per admission gap.
    n_vis = rng.poisson(2.0, len(a_subj))
    v_adm = np.repeat(np.arange(len(a_subj)), n_vis)
    v_time = a_start[v_adm] - (rng.random(len(v_adm)) * gap[v_adm]).astype(np.int64)
    v_time -= v_time % (60 * 1_000_000)
    emit(a_subj[v_adm], v_time, np.full(len(v_adm), code_ix["OUTPATIENT_VISIT"]))

    inst_subj = np.concatenate([a_subj[i_adm], a_subj[v_adm]])
    inst_time = np.concatenate([i_time, v_time])
    per_inst = 1 + rng.poisson(np.concatenate([np.full(len(i_adm), 4.0), np.full(len(v_adm), 2.0)]))
    m_subj = np.repeat(inst_subj, per_inst)
    m_time = np.repeat(inst_time, per_inst)
    ranks = np.arange(1, VOCAB_SIZE + 1, dtype=np.float64)
    p = ranks ** -ZIPF_S
    p /= p.sum()
    m_code = rng.choice(VOCAB_SIZE, size=len(m_subj), p=p)
    emit(m_subj, m_time, m_code)

    s_ix = np.concatenate(out_subj)
    t = np.concatenate(out_time)
    c = np.concatenate(out_code)
    numeric = np.concatenate([vocab_numeric, np.zeros(len(special), dtype=bool)])[c]
    value = np.where(numeric, rng.normal(50.0, 20.0, len(c)), np.nan).astype(np.float32)
    order = np.lexsort((c, t, s_ix))
    keep = order[s_ix[order] < s_ix[order][min(rows, len(order) - 1)]]
    return subj[s_ix[keep]], t[keep], c[keep], value[keep], codes


def write(rows: int, seed: int, out: str):
    subject_id, t, c, value, codes = generate(rows, seed)
    os.makedirs(out, exist_ok=True)
    time = pa.array(t, type=pa.int64(), mask=t == NULL_TIME).cast(pa.timestamp("us"))
    code = pa.DictionaryArray.from_arrays(pa.array(c.astype(np.int32)), pa.array(codes)).cast(pa.string())
    numeric_value = pa.array(value, type=pa.float32(), mask=np.isnan(value))
    table = pa.table({"subject_id": subject_id, "time": time, "code": code,
                      "numeric_value": numeric_value})
    # Split on subject boundaries so no subject spans two files.
    bounds = np.searchsorted(subject_id, subject_id[np.linspace(0, len(subject_id) - 1, FILES + 1).astype(int)])
    bounds[-1] = len(subject_id)
    for i in range(FILES):
        lo, hi = int(bounds[i]), int(bounds[i + 1])
        if hi > lo:
            pq.write_table(table.slice(lo, hi - lo), os.path.join(out, f"part-{i:02d}.parquet"))
    return len(subject_id), len(np.unique(subject_id))


if __name__ == "__main__":
    ap = argparse.ArgumentParser()
    ap.add_argument("--rows", type=int, required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--out", required=True)
    a = ap.parse_args()
    n, s = write(a.rows, a.seed, a.out)
    print(f"wrote {n} rows, {s} subjects to {a.out}")
