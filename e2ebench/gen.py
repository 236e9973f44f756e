"""Seeded input generator for the end-to-end benchmark.

Writes the raw files the program reads and returns the planted truth the
checks compare against. The truth is derived here, from what was
planted, never from a run of the program.

ETL inputs follow FIXTURES.md sections 2-3: latin1, a junk first line,
duplicate FormaPago/Periodicidad headers, ragged short and long rows,
every P3 date form, `%` rates, comma decimals, hyphen-rich and
hyphen-free Destino, unmapped group codes and empty Rpta. The raw folder
also holds an older snapshot of each entity, with explicit mtimes so the
newest-file pick is deterministic.

Snapshot 2 (the incremental refresh) churns a content-hashed ~5% of the
rows of snapshot 1: ~3% modified in audit columns, ~1% deleted, ~1%
added.

The curation corpus mimics sf0.1/documents (space-separated words from a
31-word vocabulary, 10-100 words a doc) with planted exact duplicates
(case and whitespace variants) and near duplicates (one word swapped or
a prefix word added).
"""
import datetime
import hashlib
import os
import random

import pyarrow as pa
import pyarrow.parquet as pq

# A third of the reference's traffic (two ~10 MB exports, a 30k-doc
# corpus), so that every run of the benchmark fits its time budget.
CREDITOS_ROWS = 8000
RADICADOS_ROWS = 33000
CORPUS_BASE_DOCS = 8700
CORPUS_EXACT_DUPS = 500
CORPUS_NEAR_DUPS = 800

# The physical creditos header: the dictionary's raw columns, with the
# duplicated FormaPago and Periodicidad headers of the real export.
CREDITOS_HEADER = [
    "Dias Mora Actual", "Crédito", "EstadoCrédito", "Monto", "Saldo", "Plazo",
    "FechaSolicitud", "CódigoLínea", "Línea", "CuotasPagas", "TasaInterés",
    "FormaPago", "Categoría", "ValorCuota", "IdentificaciónDeudor",
    "CategoríaDeudor", "Nombre Deudor", "VencimientoCuota",
    "DirecciónResidencia", "DirecciónCorrespondencia", "E Mail", "NúmeroVez",
    "Municipio Residencia", "Departamento Residencia", "Monto Aprobado",
    "Fecha Acta Aprobación", "ActaAprobación", "Destino", "Estado",
    "FechaGiro", "FechaIngreso", "FechaInicio", "FechaLegalización",
    "FormaPago", "Indice Color", "LíneaCrédito", "NombreCategoría",
    "Observaciones", "Pagaduría", "Periodicidad", "Periodicidad",
    "Tipo70 / 30"]
CREDITOS_DATES = [
    "FechaIngreso", "FechaSolicitud", "Fecha Acta Aprobación", "FechaGiro",
    "FechaInicio", "FechaLegalización", "VencimientoCuota"]
# Sujeto_auditoria columns of the creditos dictionary.
CREDITOS_AUDIT = [
    "EstadoCrédito", "TasaInterés", "ValorCuota", "Fecha Acta Aprobación",
    "FechaGiro", "FechaIngreso", "FechaInicio", "FechaLegalización",
    "LíneaCrédito"]
CREDITOS_AUDIT_DATES = [c for c in CREDITOS_AUDIT if c in CREDITOS_DATES]
CREDITOS_AUDIT_PLAIN = [c for c in CREDITOS_AUDIT if c not in CREDITOS_DATES]

RADICADOS_HEADER = [
    "Radicado", "Fecha Radicacion", "Procedencia", "Detalle", "Naturaleza",
    "Medio", "Expediente", "Destino", "Rpta", "Opciones"]
RADICADOS_AUDIT = ["Procedencia"]

# The reference's working_group_dict (transformation_layer.py:13-34).
WORKING_GROUPS = {
    "TL": "Tramite en línea",
    "DDB": "Direccion de desarrollo bienestar",
    "GCIG": "Grupo de control interno de gestión",
    "GGAFCC": "Grupo de gestion admin Crédito y cartera",
    "SDE": "Subdirección de desarrollo y emprendimiento",
    "GGC": "Grupo de gestion de cesantias",
    "GGEC": "Grupo de gestion educativa y colegio",
    "GGTHDO": "Grupo de gestion de talento humano y desarrollo organizacional",
    "DGC": "Dirección de gestion corporativa",
    "GER": "Gerencia",
    "GBRCD": "Grupo de bienestar y recreación, cultura y deporte",
    "GTICS": "Grupo de tecnología, informacion y comunicaciones",
    "GCMAIS": "Grupo centro medico y atencion integral",
    "OPL": "Oficina de planeación",
    "GSAGD": "Grupo de seguimiento y atencion a gerencias dptales",
    "GGF": "Grupo de gestion financiera",
    "GAJ": "Grupo de asuntos juridicos",
    "GGA": "Grupo de gestion administrativa",
    "SDBV": "Subdirección de bienestar",
    "GAUEGI": "Grupo de atencion al usuario",
    "OAD": "Oficina de asuntos disciplinarios"}
UNMAPPED_CODES = ["ZZX", "GXX", "OTRO"]

VOCAB = ("spark window merge table column vector stream value data small join "
         "filter big group hash customer sort order slow line part fast row the "
         "agg key query a scan batch dup").split()

NAMES = ["JUAN PEREZ", "MARÍA LÓPEZ", "ANA RUIZ", "JOSÉ GÓMEZ", "LUZ PEÑA",
         "PEDRO DÍAZ", "CARLOS MUÑOZ", "SOFÍA ROJAS", "ANDRÉS CASTAÑO"]
CARGOS = ["PROFESIONAL", "ASESOR", "TECNICO", "AUXILIAR", "COORDINADOR"]
ESTADOS = ["VIGENTE", "CANCELADO", "EN MORA", "CASTIGADO"]
LINEAS = ["VIVIENDA", "EDUCACIÓN", "CONSUMO", "VEHÍCULO", "LIBRE INVERSIÓN"]
CIUDADES = ["BOGOTÁ", "MEDELLÍN", "CALI", "BARRANQUILLA", "PASTO", "CÚCUTA"]


def _h(*parts):
    """Content hash in [0, 1): the same row always churns the same way."""
    d = hashlib.sha256("\x1f".join(str(p) for p in parts).encode()).digest()
    return int.from_bytes(d[:8], "big") / 2.0 ** 64


# ---------------------------------------------------------------- dates
BASE_DAY = datetime.date(2019, 1, 1)


def _date_cell(rnd, day):
    """One P3 date cell for `day`: the four parseable forms."""
    s = day.strftime("%d/%m/%Y")
    form = rnd.randrange(4)
    if form == 1:
        s = s.replace("/", "-")
    elif form == 2:
        s = s.replace("/", ".")
    elif form == 3:
        s = s + " %02d:%02d" % (rnd.randrange(24), rnd.randrange(60))
    return s


def parse_p3(cell):
    """Expected P3 result of a raw date cell: a date, or None."""
    if cell is None:
        return None
    t = cell.strip().split(" ")[0].replace("-", "/").replace(".", "/")
    try:
        return datetime.datetime.strptime(t, "%d/%m/%Y").date() if len(t) == 10 else None
    except ValueError:
        return None


def parse_rate(cell):
    if cell is None:
        return None
    try:
        return float(cell.replace("%", "").strip()) / 1e7
    except ValueError:
        return None


def parse_float(cell):
    if cell is None:
        return None
    try:
        return float(cell)
    except ValueError:
        return None


def _empty_to_none(cell):
    return None if cell is None or cell == "" else cell


def creditos_typed(col, cell):
    """The dictionary-typed value the modeled table should hold for a raw
    creditos cell (FIXTURES.md section 2 semantics); dates are dates."""
    cell = _empty_to_none(cell)
    if col in CREDITOS_DATES:
        return parse_p3(cell)
    if col == "TasaInterés":
        return parse_rate(cell)
    if col == "ValorCuota":
        return parse_float(cell)
    return cell


# ------------------------------------------------------------- creditos
def _creditos_row(rnd, pk):
    sol = BASE_DAY + datetime.timedelta(days=rnd.randrange(2000))
    row = {
        "Dias Mora Actual": str(rnd.randrange(0, 400)),
        "Crédito": str(pk),
        "EstadoCrédito": rnd.choice(ESTADOS),
        "Monto": (str(rnd.randrange(1000000, 90000000)) if rnd.random() < 0.6
                  else "%d,%02d" % (rnd.randrange(100000, 9000000), rnd.randrange(100))),
        "Saldo": "%d,%02d" % (rnd.randrange(0, 9000000), rnd.randrange(100)),
        "Plazo": str(rnd.choice([12, 24, 36, 48, 60, 120])),
        "CódigoLínea": "L%03d" % rnd.randrange(40),
        "Línea": rnd.choice(LINEAS),
        "CuotasPagas": str(rnd.randrange(0, 120)),
        "TasaInterés": rnd.choice([
            "%d %%" % rnd.randrange(100000, 2000000),
            " %d.%d%% " % (rnd.randrange(1, 30), rnd.randrange(10)),
            "%d%%" % rnd.randrange(100000, 2000000)]),
        "FormaPago": rnd.choice(["NÓMINA", "TAQUILLA", "DÉBITO"]),
        "Categoría": rnd.choice(["A", "B", "C", "D"]),
        "ValorCuota": "%d.%02d" % (rnd.randrange(50000, 3000000), rnd.randrange(100)),
        "IdentificaciónDeudor": str(rnd.randrange(10 ** 7, 10 ** 10)),
        "CategoríaDeudor": rnd.choice(["AFILIADO", "PENSIONADO", "BENEFICIARIO"]),
        "Nombre Deudor": rnd.choice(NAMES),
        "DirecciónResidencia": "CALLE %d # %d-%d" % (
            rnd.randrange(1, 200), rnd.randrange(1, 99), rnd.randrange(1, 99)),
        "DirecciónCorrespondencia": "CARRERA %d # %d-%d" % (
            rnd.randrange(1, 200), rnd.randrange(1, 99), rnd.randrange(1, 99)),
        "E Mail": "usuario%d@correo.gov.co" % rnd.randrange(10 ** 6),
        "NúmeroVez": str(rnd.randrange(1, 6)),
        "Municipio Residencia": rnd.choice(CIUDADES),
        "Departamento Residencia": rnd.choice(["CUNDINAMARCA", "ANTIOQUIA", "NARIÑO"]),
        "Monto Aprobado": (str(rnd.randrange(1000000, 90000000)) if rnd.random() < 0.5
                           else "%d,%02d" % (rnd.randrange(100000, 9000000), rnd.randrange(100))),
        "ActaAprobación": "ACTA-%05d" % rnd.randrange(10 ** 5),
        "Destino": rnd.choice(LINEAS),
        "Estado": rnd.choice(["ACTIVO", "INACTIVO"]),
        "Indice Color": rnd.choice(["VERDE", "AMARILLO", "ROJO"]),
        "LíneaCrédito": rnd.choice(LINEAS),
        "NombreCategoría": rnd.choice(["GENERAL", "ESPECIAL"]),
        "Observaciones": rnd.choice(["", "SIN OBSERVACIÓN", "REVISAR PAGADURÍA",
                                     "CRÉDITO REESTRUCTURADO"]),
        "Pagaduría": rnd.choice(["MINDEFENSA", "POLICÍA", "EJÉRCITO"]),
        "Periodicidad": "MENSUAL",
        "Tipo70 / 30": rnd.choice(["SI", "NO"]),
    }
    days = {"FechaSolicitud": sol,
            "FechaIngreso": sol - datetime.timedelta(days=rnd.randrange(1, 30)),
            "Fecha Acta Aprobación": sol + datetime.timedelta(days=rnd.randrange(1, 20)),
            "FechaGiro": sol + datetime.timedelta(days=rnd.randrange(20, 60)),
            "FechaInicio": sol + datetime.timedelta(days=rnd.randrange(10, 40)),
            "FechaLegalización": sol + datetime.timedelta(days=rnd.randrange(30, 70)),
            "VencimientoCuota": sol + datetime.timedelta(days=rnd.randrange(60, 400))}
    for c, d in days.items():
        row[c] = _date_cell(rnd, d)
    u = rnd.random()
    if u < 0.15:  # not yet disbursed: P6 computes tiempo_de_espera
        row["FechaGiro"] = ""
    elif u < 0.20:  # unparseable date cells (P3 null-on-fail)
        row[rnd.choice(["FechaLegalización", "VencimientoCuota"])] = rnd.choice(
            ["SIN FECHA", "31/02/2023", "N/A"])
    if rnd.random() < 0.02:
        row["TasaInterés"] = rnd.choice(["abc", ""])
    return row


def _modify_creditos(rnd, row):
    """Plants an audit-column change. A third of the changes touch only a
    date audit column; the rest change one plain audit column, and half
    of those also shift a date."""
    new = dict(row)
    kind = rnd.randrange(3)
    if kind > 0:
        c = rnd.choice(CREDITOS_AUDIT_PLAIN)
        old = creditos_typed(c, row[c])
        while creditos_typed(c, new[c]) == old or creditos_typed(c, new[c]) is None:
            if c == "EstadoCrédito":
                new[c] = rnd.choice(ESTADOS)
            elif c == "LíneaCrédito":
                new[c] = rnd.choice(LINEAS)
            elif c == "TasaInterés":
                new[c] = "%d %%" % rnd.randrange(100000, 2000000)
            else:
                new[c] = "%d.%02d" % (rnd.randrange(50000, 3000000), rnd.randrange(100))
    if kind != 1:
        c = rnd.choice([c for c in CREDITOS_AUDIT_DATES if parse_p3(row[c]) is not None])
        new[c] = _date_cell(rnd, parse_p3(row[c]) + datetime.timedelta(days=rnd.randrange(1, 30)))
    return new


def _creditos_line(rnd, row):
    cells = [row[c] for c in CREDITOS_HEADER]
    # the duplicated headers carry their own values (dropped by P1)
    cells[33] = rnd.choice(["NÓMINA", "TAQUILLA"])
    cells[40] = rnd.choice(["MENSUAL", "QUINCENAL"])
    u = rnd.random()
    if u < 0.02:  # short row: the trailing fields are missing
        cells = cells[:-2]
    elif u < 0.04:  # long row: extra trailing fields are truncated
        cells = cells + ["EXTRA", "X"]
    return ";".join(cells)


# ------------------------------------------------------------ radicados
def _radicados_row(rnd, pk):
    u = rnd.random()
    cargo, name = rnd.choice(CARGOS), rnd.choice(NAMES)
    if u < 0.15:
        destino = name  # no hyphen: (null, GAUEGI, null)
    elif u < 0.25:
        destino = "%s-%s-%s" % (cargo, rnd.choice(list(WORKING_GROUPS)), name.replace(" ", "-", 1))
    elif u < 0.30:
        destino = "%s-%s-%s" % (cargo, rnd.choice(UNMAPPED_CODES), name)
    else:
        destino = "%s-%s-%s" % (cargo, rnd.choice(list(WORKING_GROUPS)), name)
    day = BASE_DAY + datetime.timedelta(days=rnd.randrange(2000))
    fecha = day.strftime("%d/%m/%Y") + " %02d:%02d" % (rnd.randrange(24), rnd.randrange(60))
    if rnd.random() < 0.02:
        fecha = rnd.choice(["SIN FECHA", "2024-13-45"])
    return {
        "Radicado": str(pk),
        "Fecha Radicacion": fecha,
        "Procedencia": rnd.choice(NAMES) + " " + str(rnd.randrange(100)),
        "Detalle": rnd.choice(["SOLICITUD DE CRÉDITO", "PETICIÓN", "QUEJA",
                               "CERTIFICADO", "RECLAMO"]),
        "Naturaleza": rnd.choice(["PQRS", "TRÁMITE"]),
        "Medio": rnd.choice(["WEB", "CORREO", "VENTANILLA"]),
        "Expediente": "EXP%06d" % rnd.randrange(10 ** 6),
        "Destino": destino,
        "Rpta": "" if rnd.random() < 0.3 else str(rnd.randrange(10 ** 6)),
        "Opciones": rnd.choice(["", "URGENTE"]),
    }


def _modify_radicados(rnd, row):
    new = dict(row)
    while new["Procedencia"] == row["Procedencia"]:
        new["Procedencia"] = rnd.choice(NAMES) + " " + str(rnd.randrange(100))
    return new


def _radicados_line(rnd, row):
    cells = [row[c] for c in RADICADOS_HEADER]
    u = rnd.random()
    if u < 0.02:
        cells = cells[:-1]
    elif u < 0.04:
        cells = cells + ["EXTRA"]
    return ";".join(cells)


def grupo_destino(destino):
    """P11 + P12 expectation: the group name, or None when unmapped."""
    code = destino.split("-", 2)[1] if "-" in destino else "GAUEGI"
    return WORKING_GROUPS.get(code)


# ---------------------------------------------------------------- files
def _write_csv(path, header, lines, mtime):
    body = "\n".join(["REPORTE GENERADO POR EL SISTEMA", ";".join(header)] + lines) + "\n"
    with open(path, "wb") as f:
        f.write(body.encode("latin-1"))
    os.utime(path, (mtime, mtime))


def _snapshot(rnd, rows, line_fn):
    return [line_fn(rnd, r) for r in rows]


def _churn(seed, entity, rows1, pk_col, modify, make, next_pk, rnd):
    """Snapshot 2 from snapshot 1: content-hashed modify/delete, plus new
    rows. Returns (rows2, modified pks, deleted pks, added pks)."""
    rows2, modified, deleted = [], set(), set()
    for r in rows1:
        h = _h(seed, entity, "churn", r[pk_col])
        if h < 0.01:
            deleted.add(r[pk_col])
            continue
        if h < 0.04:
            r = modify(rnd, r)
            modified.add(r[pk_col])
        rows2.append(r)
    n_add = len(rows1) // 100
    added = [make(rnd, next_pk + i) for i in range(n_add)]
    rows2.extend(added)
    return rows2, modified, deleted, {r[pk_col] for r in added}


def generate_etl(snap1_seed, seed, out):
    """Writes raw/ (snapshot 1, wholly from `snap1_seed`) and raw2/ (the
    same files plus snapshot 2, its churn from `seed`) under `out`;
    returns the truth for both snapshots."""
    rnd = random.Random(snap1_seed)
    cred1 = [_creditos_row(rnd, 100000 + i) for i in range(CREDITOS_ROWS)]
    rad1 = [_radicados_row(rnd, 5000000 + i) for i in range(RADICADOS_ROWS)]
    # an older export of each entity, which the catalog must not pick
    old_cred = [_creditos_row(rnd, 900000 + i) for i in range(200)]
    old_rad = [_radicados_row(rnd, 9000000 + i) for i in range(200)]
    files = {
        "old_cred": _snapshot(rnd, old_cred, _creditos_line),
        "old_rad": _snapshot(rnd, old_rad, _radicados_line),
        "cred1": _snapshot(rnd, cred1, _creditos_line),
        "rad1": _snapshot(rnd, rad1, _radicados_line),
    }
    rnd = random.Random(seed * 104729 + snap1_seed)
    cred2, cmod, cdel, cadd = _churn(seed, "creditos", cred1, "Crédito",
                                     _modify_creditos, _creditos_row, 100000 + CREDITOS_ROWS, rnd)
    rad2, rmod, rdel, radd = _churn(seed, "radicados", rad1, "Radicado",
                                    _modify_radicados, _radicados_row, 5000000 + RADICADOS_ROWS, rnd)
    files["cred2"] = _snapshot(rnd, cred2, _creditos_line)
    files["rad2"] = _snapshot(rnd, rad2, _radicados_line)
    t = 1735689600  # 2025-01-01T00:00:00Z
    raw, raw2 = os.path.join(out, "raw"), os.path.join(out, "raw2")
    for d in (raw, raw2):
        os.makedirs(d, exist_ok=True)
        _write_csv(os.path.join(d, "raw_creditos_20241101.csv"), CREDITOS_HEADER, files["old_cred"], t)
        _write_csv(os.path.join(d, "raw_radicados_20241101.csv"), RADICADOS_HEADER, files["old_rad"], t + 60)
        _write_csv(os.path.join(d, "raw_creditos_20250101.csv"), CREDITOS_HEADER, files["cred1"], t + 86400)
        _write_csv(os.path.join(d, "raw_radicados_20250101.csv"), RADICADOS_HEADER, files["rad1"], t + 86460)
    _write_csv(os.path.join(raw2, "raw_creditos_20250201.csv"), CREDITOS_HEADER, files["cred2"], t + 2 * 86400)
    _write_csv(os.path.join(raw2, "raw_radicados_20250201.csv"), RADICADOS_HEADER, files["rad2"], t + 2 * 86400 + 60)
    return {
        "snap1": {"creditos": cred1, "radicados": rad1,
                  "files": [os.path.join(raw, "raw_creditos_20250101.csv"),
                            os.path.join(raw, "raw_radicados_20250101.csv")]},
        "snap2": {"creditos": cred2, "radicados": rad2,
                  "files": [os.path.join(raw2, "raw_creditos_20250201.csv"),
                            os.path.join(raw2, "raw_radicados_20250201.csv")],
                  "creditos_modified": cmod, "creditos_deleted": cdel, "creditos_added": cadd,
                  "radicados_modified": rmod, "radicados_deleted": rdel, "radicados_added": radd},
    }


# --------------------------------------------------------------- corpus
def _variant(rnd, text):
    """A copy that normalizes to the same text: case and spacing only."""
    ws = text.split(" ")
    return (" " if rnd.random() < 0.5 else "") + "  ".join(
        w.upper() if rnd.random() < 0.3 else w for w in ws)


def _near(rnd, text):
    ws = text.split(" ")
    if rnd.random() < 0.5:
        i = rnd.randrange(len(ws))
        ws[i] = rnd.choice([v for v in VOCAB if v != ws[i]])
    else:
        ws = ["xx"] + ws
    return " ".join(ws)


def generate_corpus(seed, out):
    """Writes corpus.parquet (doc_id, text) under `out`; returns the
    planted duplicate structure."""
    rnd = random.Random(seed * 7919 + 1)
    n = CORPUS_BASE_DOCS + CORPUS_EXACT_DUPS + CORPUS_NEAR_DUPS
    ids = rnd.sample(range(n * 4), n)  # copies are not always the larger id
    base = []
    for _ in range(CORPUS_BASE_DOCS):
        k = rnd.randrange(10, 101)
        base.append(" ".join(rnd.choice(VOCAB) for _ in range(k)))
    docs = {ids[i]: base[i] for i in range(CORPUS_BASE_DOCS)}
    exact_of, near_of = {}, {}
    nxt = CORPUS_BASE_DOCS
    long_docs = [i for i in range(CORPUS_BASE_DOCS) if len(base[i].split(" ")) >= 40]
    for _ in range(CORPUS_EXACT_DUPS):
        src = rnd.randrange(CORPUS_BASE_DOCS)
        docs[ids[nxt]] = _variant(rnd, base[src])
        exact_of[ids[nxt]] = ids[src]
        nxt += 1
    for _ in range(CORPUS_NEAR_DUPS):
        src = rnd.choice(long_docs)
        docs[ids[nxt]] = _near(rnd, base[src])
        near_of[ids[nxt]] = ids[src]
        nxt += 1
    doc_ids = sorted(docs)
    os.makedirs(out, exist_ok=True)
    path = os.path.join(out, "corpus.parquet")
    pq.write_table(pa.table({"doc_id": pa.array(doc_ids, pa.int64()),
                             "text": pa.array([docs[i] for i in doc_ids], pa.string())}),
                   path, compression="snappy")
    # exact groups by normalized text: the survivor is the smallest id
    groups = {}
    for i in doc_ids:
        groups.setdefault(" ".join(docs[i].lower().split()), []).append(i)
    survivors = {min(g) for g in groups.values()}
    # planted clusters: a base doc with its exact and near copies; a near
    # copy's survivor is its own exact-group minimum
    cluster = {i: i for i in doc_ids}
    for c, src in list(exact_of.items()) + list(near_of.items()):
        cluster[c] = src
    near_pairs = set()
    for c, src in near_of.items():
        a = min(groups[" ".join(docs[c].lower().split())])
        b = min(groups[" ".join(docs[src].lower().split())])
        if a != b:
            near_pairs.add((min(a, b), max(a, b)))
    return {"file": path, "docs": len(doc_ids), "survivors": survivors,
            "near_pairs": near_pairs, "cluster": cluster}
