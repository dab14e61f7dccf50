#!/usr/bin/env python3
"""Seeded Bronze CSV generator for the ETL workloads.

Writes landing files that follow FIXTURES.md's contracts (`;` delimiter,
header row, UTF-8 BOM on some files, ragged rows, RFC4180-escaped JSON
payload columns) and injects a fixed rate of each adversarial case:
bad RUT check digits, unknown `carrier_bp`, duplicate natural keys within
a file, absent JSON payloads and rows cut short after the last required
column. The program's Bronze reader parses CSV in PERMISSIVE mode with a
corrupt-record column, so a short row is quarantined as `fila corrupta`
(BronzeReader.scala); the manifest counts it as rejected.

Beside the CSVs it writes `manifest.json`: accepted and rejected rows per
file, and the Silver row count of every table (children, dimensions and
quarantine included) after the initial landing set and after each
incremental file, computed here from the generated rows alone. The
program under test only ever sees the CSV files.

Usage: python3 gen_bronze.py --seed N --out DIR [--scale NAME]
The same seed and scale give byte-identical files.
"""
import argparse
import json
import os
import random

BAD_RUT_RATE = 0.02
UNKNOWN_CARRIER_RATE = 0.01
DUP_KEY_RATE = 0.01
ABSENT_PAYLOAD_RATE = 0.10
RAGGED_RATE = 0.005
BOM = "﻿"

# rows per landing set; "incr_*" sizes are per incremental file
SCALES = {
    "tiny": dict(empresas=40, conductores=300, vehiculos=200,
                 incr_files=2, incr_rows=(60, 120)),
    "bench": dict(empresas=1500, conductores=15000, vehiculos=7500,
                  incr_files=12, incr_rows=(1450, 1550)),
}

EMPRESA_COLS = ["carrier_bp", "carrier_name", "carrier_tin", "carrier_type"]
CONDUCTOR_COLS = ["driver_name", "national_id", "birth_date", "phone_number",
                  "email", "carrier_bp", "driver_role", "hoja_de_vida_data",
                  "licencia_frontal_data", "licencia_reverso_data"]
VEHICULO_COLS = [
    "registration_plate", "carrier_bp", "year_of_manufacture", "gps",
    "engine_number", "chassis_number", "vin", "odometer_km", "cortina",
    "instalacion_cortina", "vehicle_type", "vehicle_designation", "parrilla",
    "peso", "largo", "ancho", "alto", "mop_clasification", "nominal_pallet",
    "vehicle_make", "vehicle_model", "fecha_revision_tecnica",
    "fecha_vencimiento_revision_tecnica", "emissions_crt_status",
    "identification_status", "visual_status", "lights_status",
    "alignment_status", "brakes_status", "clearances_status",
    "emissions_status", "opacity_status", "steering_angle_status",
    "noise_status", "suspension_status", "permiso_circulacion_data",
    "certificado_anotaciones_vigentes_data", "soap_data"]
STATUS_COLS = VEHICULO_COLS[23:35]

TABLES = [
    "empresa", "tipo_empresa", "conductor", "conductor_rol", "hoja_vida",
    "hoja_vida_restriccion", "hoja_vida_infraccion", "licencia",
    "licencia_clase", "clase_licencia", "vehiculo", "tipo_vehiculo",
    "tipo_designacion", "vehiculo_marca", "vehiculo_modelo",
    "revision_tecnica", "permiso_circulacion", "soap",
    "certificado_anotaciones_vigentes", "quarantine_empresa",
    "quarantine_conductor", "quarantine_vehiculo"]

CARRIER_TYPES = ["Spot", "Licitada", "Dedicada"]
ROLES = ["Titular", "Suplente", "Apoyo"]
FIRST = ["JUAN", "MARIA", "PEDRO", "ANA", "JOSE", "CAMILA", "LUIS", "SOFIA",
         "DIEGO", "VALENTINA", "MUÑOZ", "ÑANCO"]
LAST = ["PEREZ", "GONZALEZ", "ROJAS", "DIAZ", "SOTO", "CONTRERAS", "SILVA",
        "MARTINEZ", "SEPULVEDA", "MORALES"]
COMUNAS = ["SANTIAGO", "MAIPU", "PROVIDENCIA", "ÑUÑOA", "LA FLORIDA",
           "PUENTE ALTO", "VALPARAISO", "CONCEPCION"]
CLASES = ["A1", "A2", "A3", "A4", "A5", "B", "C", "D"]
VTYPES = ["Camion", "Tracto", "Semirremolque", "Furgon"]
DESIGS = ["Carga", "Refrigerado", "Granel", "Plataforma"]
MAKES = {"VOLVO": ["FH 500", "FM 440"], "SCANIA": ["R450", "G410"],
         "MERCEDES": ["Actros", "Atego"], "IVECO": ["Stralis"]}
STATUSES = ["Aprobada", "Rechazada", "No Aplica"]


def check_digit(body: str) -> str:
    """Mod-11 RUT check character, as the program's RutUtil computes it."""
    total, mult = 0, 2
    for ch in reversed(body):
        total += int(ch) * mult
        mult = 2 if mult == 7 else mult + 1
    d = 11 - total % 11
    return "0" if d == 11 else "K" if d == 10 else str(d)


def rut(body: int, rng: random.Random, valid: bool = True) -> str:
    b = str(body)
    dv = check_digit(b)
    if not valid:
        dv = rng.choice([c for c in "0123456789K" if c != dv])
    if rng.random() < 0.3:  # dotted form, canonicalized by the program
        b = f"{int(b):,}".replace(",", ".")
    return f"{b}-{dv}"


def csv_field(v):
    if v is None:
        return ""
    if any(c in v for c in ';"\n') or v != v.strip():
        return '"' + v.replace('"', '""') + '"'
    return v


def fmt_date(rng, y0, y1, allow_time=True):
    y, m, d = rng.randint(y0, y1), rng.randint(1, 12), rng.randint(1, 28)
    form = rng.randrange(4 if allow_time else 3)
    if form == 0:
        return f"{y:04d}-{m:02d}-{d:02d}"
    if form == 1:
        return f"{d:02d}-{m:02d}-{y:04d}"
    if form == 2:
        return f"{d:02d}/{m:02d}/{y:04d}"
    return f"{d:02d}-{m:02d}-{y:04d}, {rng.randint(0, 23):02d}:{rng.randint(0, 59):02d}"


def js(obj):
    return json.dumps(obj, ensure_ascii=False, separators=(",", ":"))


class Silver:
    """Expected Silver state, advanced file by file with the program's
    documented semantics (FIXTURES.md §1-4)."""

    def __init__(self):
        self.keys = {t: set() for t in ("empresa", "conductor", "vehiculo")}
        self.dims = {t: set() for t in (
            "tipo_empresa", "conductor_rol", "clase_licencia", "tipo_vehiculo",
            "tipo_designacion", "vehiculo_marca", "vehiculo_modelo")}
        self.appended = {t: 0 for t in TABLES
                         if t not in self.keys and t not in self.dims}

    def counts(self):
        out = {t: len(v) for t, v in self.keys.items()}
        out.update({t: len(v) for t, v in self.dims.items()})
        out.update(self.appended)
        return {t: out[t] for t in TABLES}


class Generator:
    def __init__(self, seed: int, scale: str):
        self.rng = random.Random(seed)
        self.cfg = SCALES[scale]
        self.silver = Silver()
        self.files = {}
        self.next_carrier = 1000000 + self.rng.randrange(1000) * 1000
        self.next_rut = 10000000 + self.rng.randrange(5000000)
        self.next_plate = self.rng.randrange(10000)
        self.carriers_known = []   # accepted carrier_bp values
        self.cond_known = []       # rut bodies accepted so far
        self.plates_known = []     # plates accepted so far

    # -- helpers ---------------------------------------------------------
    def _unknown_carrier(self):
        return str(9000000 + self.rng.randrange(999999))

    def _carrier(self):
        return self.rng.choice(self.carriers_known)

    def _plate(self, n):
        letters = "BCDFGHJKLPRSTVWXYZ"
        a = letters[n % 18] + letters[(n // 18) % 18]
        b = letters[(n // 324) % 18] + letters[(n // 5832) % 18]
        return f"{a}{b}{n % 100:02d}"

    def _write(self, path, cols, rows, bom):
        with open(path, "w", encoding="utf-8", newline="") as f:
            f.write((BOM if bom else "") + ";".join(cols) + "\n")
            for r in rows:
                f.write(";".join(csv_field(v) for v in r) + "\n")

    # -- empresas --------------------------------------------------------
    def empresas(self, path, n):
        rng, rows, accepted = self.rng, [], []
        for i in range(n):
            if i > 0 and rng.random() < DUP_KEY_RATE:
                bp = rng.choice(rows)[0]   # duplicate key: last row wins
            else:
                bp = str(self.next_carrier)
                self.next_carrier += rng.randint(1, 9)
            bad = rng.random() < BAD_RUT_RATE
            tin = rut(70000000 + rng.randrange(9999999), rng, valid=not bad)
            ctype = rng.choice(CARRIER_TYPES)
            name = f"EMPRESA  {rng.choice(LAST)} {i}   SPA"
            rows.append([bp, name, tin, ctype])
            if not bad:
                accepted.append((bp, ctype))
        self._write(path, EMPRESA_COLS, rows, bom=True)
        s = self.silver
        for bp, ctype in accepted:
            if bp not in s.keys["empresa"]:
                self.carriers_known.append(bp)
            s.keys["empresa"].add(bp)
            s.dims["tipo_empresa"].add(ctype)
        rejected = n - len(accepted)
        s.appended["quarantine_empresa"] += rejected
        self.files[os.path.basename(path)] = dict(
            rows=n, accepted=len(accepted), rejected=rejected)

    # -- conductores -----------------------------------------------------
    def _hoja(self):
        rng = self.rng
        rest = [{"fechaAnotacion": fmt_date(rng, 2010, 2024, False),
                 "bloqueRestriccionLicencia": rng.choice(["LENTES", "AUDIFONO"])}
                for _ in range(rng.randrange(3))]
        dur = [{"fechaAnotacion": fmt_date(rng, 2010, 2024, False),
                "bloqueDuracionRestringida": f"{rng.randint(1, 4)} AÑOS"}
               for _ in range(rng.randrange(2))]
        infr = [{"procesoNumero": f"P-{rng.randrange(99999)}",
                 "tribunal": "JPL " + rng.choice(COMUNAS),
                 "fechaDenuncia": fmt_date(rng, 2012, 2024, False),
                 "infraccion": rng.choice(["EXCESO VELOCIDAD", "LUZ ROJA"]),
                 "resolucion": rng.choice(["MULTA", "ABSUELTO"])}
                for _ in range(rng.randrange(3))]
        doc = {"certificado": {"folio": f"F{rng.randrange(10**6)}",
                               "fechaEmision": fmt_date(rng, 2023, 2025),
                               "codigoVerificacion": f"CV{rng.randrange(999)}"},
               "persona": {"comuna": rng.choice(COMUNAS),
                           "domicilio": f"CALLE {rng.randrange(300)} #{rng.randrange(999)}",
                           "restriccionesLicencia": rest,
                           "duracionesRestringidas": dur,
                           "infraccionesRegistradas": infr}}
        return js(doc), len(rest) + len(dur), len(infr)

    def conductores(self, path, n, update_share=0.0):
        rng, rows, acc = self.rng, [], []
        new_bodies = []
        for i in range(n):
            if i > 0 and rng.random() < DUP_KEY_RATE:
                body = rng.choice(new_bodies or [self.next_rut])
            elif self.cond_known and rng.random() < update_share:
                body = rng.choice(self.cond_known)
            else:
                body = self.next_rut
                self.next_rut += rng.randint(1, 13)
            new_bodies.append(body)
            bad = rng.random() < BAD_RUT_RATE
            unknown = rng.random() < UNKNOWN_CARRIER_RATE
            carrier = self._unknown_carrier() if unknown else self._carrier()
            role = rng.choice(ROLES)
            hoja = frontal = reverso = None
            n_rest = n_infr = n_clase = 0
            if rng.random() >= ABSENT_PAYLOAD_RATE:
                hoja, n_rest, n_infr = self._hoja()
            clases = []
            if rng.random() >= ABSENT_PAYLOAD_RATE:
                clases = rng.sample(CLASES, rng.randint(1, 3))
                frontal = js({"clase": clases,
                              "municipalidad": rng.choice(COMUNAS),
                              "fecha_de_control": fmt_date(rng, 2020, 2025, False),
                              "fecha_ultimo_control": fmt_date(rng, 2026, 2032, False)})
                if rng.random() >= ABSENT_PAYLOAD_RATE:
                    reverso = js({"codigo": f"{rng.choice(CLASES)}-{rng.randrange(99)}"})
            row = [f"{rng.choice(FIRST)}  {rng.choice(LAST)}",
                   rut(body, rng, valid=not bad),
                   fmt_date(rng, 1960, 2004),
                   f"+569{rng.randrange(10**8):08d}" if rng.random() < 0.8 else None,
                   f"c{body}@mail.cl" if rng.random() < 0.7 else None,
                   carrier, f" {role} ", hoja, frontal, reverso]
            # ragged: the row stops after driver_role (no payload columns)
            ragged = rng.random() < RAGGED_RATE
            if ragged:
                row = row[:7]
            rows.append(row)
            if not bad and not unknown and not ragged:
                acc.append((body, role, hoja is not None, n_rest, n_infr,
                            frontal is not None and reverso is not None,
                            clases))
        self._write(path, CONDUCTOR_COLS, rows, bom=rng.random() < 0.5)
        s = self.silver
        for body, role, has_hoja, n_rest, n_infr, has_lic, clases in acc:
            if body not in s.keys["conductor"]:
                self.cond_known.append(body)
            s.keys["conductor"].add(body)
            s.dims["conductor_rol"].add(role)
            if has_hoja:
                s.appended["hoja_vida"] += 1
                s.appended["hoja_vida_restriccion"] += n_rest
                s.appended["hoja_vida_infraccion"] += n_infr
            if has_lic:
                s.appended["licencia"] += 1
                s.appended["licencia_clase"] += len(clases)
                s.dims["clase_licencia"].update(clases)
        rejected = n - len(acc)
        s.appended["quarantine_conductor"] += rejected
        self.files[os.path.basename(path)] = dict(
            rows=n, accepted=len(acc), rejected=rejected)

    # -- vehiculos -------------------------------------------------------
    def vehiculos(self, path, n, update_share=0.0):
        rng, rows, acc = self.rng, [], []
        seen = []
        for i in range(n):
            if i > 0 and rng.random() < DUP_KEY_RATE:
                plate = rng.choice(seen)
            elif self.plates_known and rng.random() < update_share:
                plate = rng.choice(self.plates_known)
            else:
                plate = self._plate(self.next_plate)
                self.next_plate += 1
            seen.append(plate)
            unknown = rng.random() < UNKNOWN_CARRIER_RATE
            carrier = self._unknown_carrier() if unknown else self._carrier()
            make = rng.choice(sorted(MAKES))
            model = rng.choice(MAKES[make])
            vtype, desig = rng.choice(VTYPES), rng.choice(DESIGS)
            pc = cav = soap = None
            if rng.random() >= ABSENT_PAYLOAD_RATE:
                pc = js({"municipalidad": rng.choice(COMUNAS),
                         "fecha_emision": fmt_date(rng, 2024, 2025, False),
                         "fecha_vencimiento": fmt_date(rng, 2026, 2027, False)})
            if rng.random() >= ABSENT_PAYLOAD_RATE:
                cav = js({"folio": f"CAV-{rng.randrange(10**5)}",
                          "codigo_verificacion": f"K{rng.randrange(99)}",
                          "fecha_emision": fmt_date(rng, 2024, 2025, False),
                          "limitaciones_al_dominio": "NINGUNA",
                          "datos_propietario_actual": {
                              "nombre": f"EMPRESA {rng.choice(LAST)}",
                              "rut": rut(70000000 + rng.randrange(9999999), rng),
                              "fecha_adquisicion": fmt_date(rng, 2015, 2024, False)}})
            if rng.random() >= ABSENT_PAYLOAD_RATE:
                soap = js({"numero_poliza": rng.randrange(1, 10**9),
                           "institucion_aseguradora": f"ASEG {rng.randrange(9)}",
                           "fecha_vencimiento_poliza": fmt_date(rng, 2026, 2027, False)})
            row = [plate, carrier, str(rng.randint(1995, 2025)),
                   rng.choice(["si", "no", "true", "verdadero", "false"]),
                   f"ENG{rng.randrange(10**6)}", f"CHS{rng.randrange(10**6)}",
                   f"VIN{rng.randrange(10**8)}", str(rng.randrange(900000)),
                   rng.choice(["Lona", "Rigida", None]),
                   fmt_date(rng, 2015, 2024, False), vtype, desig,
                   rng.choice(["si", "no"]),
                   f"{rng.uniform(3000, 30000):.1f}", f"{rng.uniform(6, 14):.1f}",
                   f"{rng.uniform(2, 2.6):.2f}", f"{rng.uniform(2.5, 4.2):.2f}",
                   f"MOP-{rng.choice('ABC')}", str(rng.randint(10, 30)),
                   make, model, fmt_date(rng, 2024, 2025, False),
                   fmt_date(rng, 2025, 2026, False)]
            row += [rng.choice(STATUSES) for _ in STATUS_COLS]
            row += [pc, cav, soap]
            # ragged: the row stops after the status columns
            ragged = rng.random() < RAGGED_RATE
            if ragged:
                row = row[:35]
            rows.append(row)
            if not unknown and not ragged:
                acc.append((plate, vtype, desig, make, model, pc, cav, soap))
        self._write(path, VEHICULO_COLS, rows, bom=rng.random() < 0.5)
        s = self.silver
        for plate, vtype, desig, make, model, pc, cav, soap in acc:
            if plate not in s.keys["vehiculo"]:
                self.plates_known.append(plate)
            s.keys["vehiculo"].add(plate)
            s.dims["tipo_vehiculo"].add(vtype)
            s.dims["tipo_designacion"].add(desig)
            s.dims["vehiculo_marca"].add(make)
            s.dims["vehiculo_modelo"].add((make, model))
            s.appended["revision_tecnica"] += 1
            s.appended["permiso_circulacion"] += pc is not None
            s.appended["certificado_anotaciones_vigentes"] += cav is not None
            s.appended["soap"] += soap is not None
        rejected = n - len(acc)
        s.appended["quarantine_vehiculo"] += rejected
        self.files[os.path.basename(path)] = dict(
            rows=n, accepted=len(acc), rejected=rejected)


def generate(out_dir: str, seed: int, scale: str = "bench") -> dict:
    """Write `initial/`, `incremental/` and `manifest.json` under out_dir."""
    cfg = SCALES[scale]
    g = Generator(seed, scale)
    initial = os.path.join(out_dir, "initial")
    incremental = os.path.join(out_dir, "incremental")
    os.makedirs(initial, exist_ok=True)
    os.makedirs(incremental, exist_ok=True)
    # processDirectory order: empresas first, then the rest by name
    g.empresas(os.path.join(initial, "empresas_20250101.csv"), cfg["empresas"])
    g.conductores(os.path.join(initial, "conductores_20250101.csv"), cfg["conductores"])
    g.vehiculos(os.path.join(initial, "vehiculos_20250101.csv"), cfg["vehiculos"])
    after_initial = g.silver.counts()
    incr, after_each = [], []
    lo, hi = cfg["incr_rows"]
    for i in range(cfg["incr_files"]):
        n = g.rng.randint(lo, hi)
        kind = "conductores" if i % 2 == 0 else "vehiculos"
        # the sequence number leads so that name order is landing order
        name = f"{i:03d}_{kind}_20250102.csv"
        path = os.path.join(incremental, name)
        if kind == "conductores":
            g.conductores(path, n, update_share=0.5)
        else:
            g.vehiculos(path, n, update_share=0.5)
        incr.append(name)
        after_each.append(g.silver.counts())
    manifest = dict(seed=seed, scale=scale, tables=TABLES,
                    initial=sorted(os.listdir(initial)),
                    incremental=incr, files=g.files,
                    after_initial=after_initial, after_incremental=after_each)
    with open(os.path.join(out_dir, "manifest.json"), "w") as f:
        json.dump(manifest, f, indent=1, sort_keys=True)
    return manifest


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--out", required=True)
    ap.add_argument("--scale", default="bench", choices=sorted(SCALES))
    a = ap.parse_args()
    generate(a.out, a.seed, a.scale)


if __name__ == "__main__":
    main()
