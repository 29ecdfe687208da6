"""Seeded generator of raw acordos rows (the 13-column sheet layout).

Every row belongs to one logical agreement, its *key*. Keys stay distinct
through the medallion's normalisation, because the partner name carries the
key's number. So the expected size of every gold output follows from the
generator's own keys, never from the engine:

- ``acordos`` and ``hier``: one row per key;
- ``pais`` / ``org``: one row per key whose partner type is País /
  Organização after trim and title case.

The generator controls the input properties the medallion's behaviour
depends on:

- exact duplicates, and variants that differ only in ``Link`` and
  ``Vigência`` (both dropped by the silver projection, so silver
  deduplicates them);
- ``'-'`` and NULL placeholders, and malformed dates;
- ``Título`` longer than 255 characters (bronze truncates it);
- the País / Organização / other mix, with case and whitespace variants of
  the partner type.

The same seed and sizes give byte-identical parquet files.
"""

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

RAW_HEADERS = [
    "Data de Celebração", "Parceiro", "Tipo de Parceiro", "Continente",
    "Região", "Local de Assinatura", "Tipo de Acordo", "Título", "Objetivo",
    "Recursos", "Tipo de Documento", "Vigência", "Link",
]

# Partner type classes: (share, raw spellings). Every spelling of a class
# normalises to the same silver value; the placeholder class becomes
# 'Não Informado'.
PAIS = ["País", "país", " PAÍS "]
ORG = ["Organização", "organização", "ORGANIZAÇÃO "]
OTHER = ["Empresa", "Universidade", "Fundação"]
PLACEHOLDER = ["-", None]
TYPE_SHARES = [0.45, 0.35, 0.12, 0.08]

CONTINENTES = ["Europa", "América do Sul", "Ásia", "África", "Oceania", "-", None]
REGIOES = ["Europa Ocidental", "Cone Sul", "Sudeste Asiático", "África Austral",
           "Oriente Médio", "-", None]
LOCAIS = ["Paris", "Brasília", "Tóquio", "Genebra", "Nova Iorque", "Lisboa", "-", None]
TIPOS_ACORDO = ["bilateral", "multilateral", "memorando", "-", None]
OBJETIVOS = ["cooperação técnica", "intercâmbio cultural", "comércio", "saúde", "-", None]
RECURSOS = ["hídricos", "financeiros", "humanos", "energéticos", "-", None]
DOCUMENTOS = ["acordo", "tratado", "protocolo", "convênio", "-", None]
TOPICS = ["água", "energia solar", "educação", "ciência", "defesa", "turismo"]
BAD_DATES = ["99/99/9999", "2015-03-04", "", "-", None]

DUP_SHARE = 0.10       # keys that get an exact duplicate row
VARIANT_SHARE = 0.10   # keys that get a row differing only in link/vigência
LONG_TITLE_SHARE = 0.03
BAD_DATE_SHARE = 0.08
ROWS_PER_KEY = 1 + DUP_SHARE + VARIANT_SHARE


def _pick(rng, vocab, n):
    """n seeded draws from vocab (None allowed), as a Python list."""
    idx = rng.integers(0, len(vocab), n)
    return [vocab[i] for i in idx]


def _dates(rng, n, bad_share):
    d = rng.integers(1, 29, n)
    m = rng.integers(1, 13, n)
    y = rng.integers(1990, 2025, n)
    bad = rng.random(n) < bad_share
    bad_pick = rng.integers(0, len(BAD_DATES), n)
    return [BAD_DATES[b] if x else f"{dd:02d}/{mm:02d}/{yy}"
            for x, b, dd, mm, yy in zip(bad, bad_pick, d, m, y)]


def _keys(rng, first, n):
    """Column values for keys first..first+n-1, plus each key's class."""
    keys = np.arange(first, first + n)
    cls = rng.choice(4, size=n, p=TYPE_SHARES)
    spell = rng.integers(0, 3, n)
    classes = [PAIS, ORG, OTHER, PLACEHOLDER]
    tipo = [classes[c][s % len(classes[c])] for c, s in zip(cls, spell)]
    long_title = rng.random(n) < LONG_TITLE_SHARE
    topic = rng.integers(0, len(TOPICS), n)
    pad = rng.integers(260, 400, n)
    titles = []
    for k, lt, t, p in zip(keys, long_title, topic, pad):
        base = f" acordo {k:08d} sobre {TOPICS[t]} "
        titles.append((base + "cláusula " * 60)[:p] if lt else base)
    cols = {
        "Data de Celebração": _dates(rng, n, BAD_DATE_SHARE),
        "Parceiro": [f" parceiro {k:08d}" for k in keys],
        "Tipo de Parceiro": tipo,
        "Continente": _pick(rng, CONTINENTES, n),
        "Região": _pick(rng, REGIOES, n),
        "Local de Assinatura": _pick(rng, LOCAIS, n),
        "Tipo de Acordo": _pick(rng, TIPOS_ACORDO, n),
        "Título": titles,
        "Objetivo": _pick(rng, OBJETIVOS, n),
        "Recursos": _pick(rng, RECURSOS, n),
        "Tipo de Documento": _pick(rng, DOCUMENTOS, n),
        "Vigência": _dates(rng, n, BAD_DATE_SHARE),
        "Link": [f"http://acordos.example/{k}" for k in keys],
    }
    return cols, cls


def _extra_rows(rng, cols, pool):
    """Duplicate and variant rows for keys drawn from row indices `pool`.
    Returns (column dict of the extra rows)."""
    n_pool = len(pool)
    dup = pool[rng.random(n_pool) < DUP_SHARE]
    var = pool[rng.random(n_pool) < VARIANT_SHARE]
    out = {h: [cols[h][i] for i in dup] + [cols[h][i] for i in var] for h in RAW_HEADERS}
    out["Vigência"][len(dup):] = _dates(rng, len(var), BAD_DATE_SHARE)
    out["Link"][len(dup):] = [f"{cols['Link'][i]}?v=2" for i in var]
    return out


def _table(cols, order):
    return pa.table({h: pa.array([cols[h][i] for i in order], type=pa.string())
                     for h in RAW_HEADERS})


def _concat(a, b):
    return {h: a[h] + b[h] for h in RAW_HEADERS}


def _expected(cls):
    n = len(cls)
    return {"acordos": n, "hier": n,
            "pais": int(np.sum(cls == 0)), "org": int(np.sum(cls == 1))}


def write(table, path):
    pq.write_table(table, path, compression="snappy", row_group_size=1 << 20)


def batch(seed, rows):
    """One landing table of about `rows` rows. Returns (table, expected)."""
    rng = np.random.default_rng([seed, 1])
    n_keys = max(1, int(rows / ROWS_PER_KEY))
    cols, cls = _keys(rng, 0, n_keys)
    cols = _concat(cols, _extra_rows(rng, cols, np.arange(n_keys)))
    order = rng.permutation(len(cols["Link"]))
    exp = _expected(cls)
    exp["rows"] = len(order)
    return _table(cols, order), exp


def days(seed, n_days, rows_per_day):
    """`n_days` landing tables of about `rows_per_day` rows. A day's
    duplicates and variants may repeat any key landed on that day or
    before, so the silver dedup state is exercised across days.
    Returns (list of tables, expected after the last day)."""
    rng = np.random.default_rng([seed, 2])
    keys_per_day = max(1, int(rows_per_day / ROWS_PER_KEY))
    all_cols = {h: [] for h in RAW_HEADERS}
    all_cls = []
    tables = []
    for d in range(n_days):
        cols, cls = _keys(rng, d * keys_per_day, keys_per_day)
        all_cols = _concat(all_cols, cols)
        all_cls.extend(cls.tolist())
        landed = len(all_cols["Link"])
        # extra rows draw from every key landed so far, weighted to today
        pool = np.concatenate([np.arange(landed - keys_per_day, landed),
                               rng.integers(0, landed, keys_per_day // 4)])
        day_cols = _concat({h: [all_cols[h][i] for i in range(landed - keys_per_day, landed)]
                            for h in RAW_HEADERS},
                           _extra_rows(rng, all_cols, pool))
        tables.append(_table(day_cols, rng.permutation(len(day_cols["Link"]))))
    exp = _expected(np.array(all_cls))
    exp["rows"] = sum(t.num_rows for t in tables)
    return tables, exp
