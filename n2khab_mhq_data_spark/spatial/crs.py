"""K11 — CRS transform WGS84 <-> Belgian Lambert 72 (EPSG:31370), no pyproj.

Implements the Lambert Conformal Conic 2SP forward/inverse formulas
(Snyder, "Map Projections — A Working Manual", USGS PP 1395, eq. 15-1..15-11)
with the EPSG:31370 parameters on the International 1924 ellipsoid. The
reference calls sf::st_transform for the same conversion
(process_external_data.Rmd:148-152, data_questions.Rmd:157-164).

Queries run the numpy reference's formulas as Spark SQL text (the ``*_sql``
functions), inside the JVM: no Python worker, no shuffle."""

from __future__ import annotations

import numpy as np

# International 1924 ellipsoid
_A = 6378388.0
_F = 1.0 / 297.0
_E2 = _F * (2 - _F)
_E = np.sqrt(_E2)

# EPSG:31370 projection parameters
_LAT1 = np.radians(51 + 10 / 60 + 0.00204 / 3600)
_LAT2 = np.radians(49 + 50 / 60 + 0.00204 / 3600)
_LAT0 = np.radians(90.0)
_LON0 = np.radians(4 + 22 / 60 + 2.952 / 3600)
_X0 = 150000.013
_Y0 = 5400088.438


def _m(phi: np.ndarray) -> np.ndarray:
    return np.cos(phi) / np.sqrt(1 - _E2 * np.sin(phi) ** 2)


def _t(phi: np.ndarray) -> np.ndarray:
    es = _E * np.sin(phi)
    return np.tan(np.pi / 4 - phi / 2) / ((1 - es) / (1 + es)) ** (_E / 2)


_M1, _M2 = _m(np.array(_LAT1)), _m(np.array(_LAT2))
_T1, _T2 = _t(np.array(_LAT1)), _t(np.array(_LAT2))
_T0 = _t(np.array(_LAT0))
_N = (np.log(_M1) - np.log(_M2)) / (np.log(_T1) - np.log(_T2))
_BIGF = _M1 / (_N * _T1**_N)
_RHO0 = _A * _BIGF * _T0**_N


def wgs84_to_lambert72(lon: np.ndarray, lat: np.ndarray):
    """Forward LCC-2SP: degrees -> metres."""
    phi = np.radians(lat)
    lam = np.radians(lon)
    rho = _A * _BIGF * _t(phi) ** _N
    theta = _N * (lam - _LON0)
    x = _X0 + rho * np.sin(theta)
    y = _Y0 + _RHO0 - rho * np.cos(theta)
    return x, y


def lambert72_to_wgs84(x: np.ndarray, y: np.ndarray):
    """Inverse LCC-2SP (iterative latitude recovery, Snyder eq. 7-9)."""
    dx = np.asarray(x, dtype=float) - _X0
    dy = _RHO0 - (np.asarray(y, dtype=float) - _Y0)
    rho = np.sign(_N) * np.sqrt(dx * dx + dy * dy)
    theta = np.arctan2(dx, dy)
    t = (rho / (_A * _BIGF)) ** (1 / _N)
    phi = np.pi / 2 - 2 * np.arctan(t)
    for _ in range(8):
        es = _E * np.sin(phi)
        phi = np.pi / 2 - 2 * np.arctan(t * ((1 - es) / (1 + es)) ** (_E / 2))
    lam = theta / _N + _LON0
    return np.degrees(lam), np.degrees(phi)


# --- BD72 <-> WGS84 datum shift (Helmert 7-parameter, EPSG:15929) --------
# The full EPSG:31370 pipeline is WGS84 --Helmert--> BD72 --LCC--> metres.
# The projection functions above are the BD72 leg; apply the shift first
# when inputs are true WGS84 (difference ~100 m over Belgium).

_WGS_A = 6378137.0
_WGS_F = 1 / 298.257223563
_WGS_E2 = _WGS_F * (2 - _WGS_F)
# EPSG:15929 (BD72 -> WGS84, position vector): tx=-106.8686 ty=52.2978
# tz=-103.7239 rx=0.3366" ry=-0.457" rz=1.8422" ds=-1.2747 ppm.
# We need the INVERSE (WGS84 -> BD72): negate every parameter.
_TX, _TY, _TZ = 106.8686, -52.2978, 103.7239
_RX = np.radians(-0.3366 / 3600)
_RY = np.radians(0.457 / 3600)
_RZ = np.radians(-1.8422 / 3600)
_DS = 1.2747e-6


def _geodetic_to_xyz(lon, lat, a, e2):
    phi, lam = np.radians(lat), np.radians(lon)
    nu = a / np.sqrt(1 - e2 * np.sin(phi) ** 2)
    return (
        nu * np.cos(phi) * np.cos(lam),
        nu * np.cos(phi) * np.sin(lam),
        nu * (1 - e2) * np.sin(phi),
    )


def _xyz_to_geodetic(x, y, z, a, e2):
    lam = np.arctan2(y, x)
    p = np.sqrt(x * x + y * y)
    phi = np.arctan2(z, p * (1 - e2))
    for _ in range(6):
        nu = a / np.sqrt(1 - e2 * np.sin(phi) ** 2)
        phi = np.arctan2(z + e2 * nu * np.sin(phi), p)
    return np.degrees(lam), np.degrees(phi)


def wgs84_to_bd72(lon, lat):
    """Helmert shift WGS84 -> Belgian Datum 1972 (inverse of EPSG:15929,
    position-vector convention)."""
    x, y, z = _geodetic_to_xyz(lon, lat, _WGS_A, _WGS_E2)
    s = 1 + _DS
    # position-vector convention: R = [[1,-rz,ry],[rz,1,-rx],[-ry,rx,1]]
    xb = _TX + s * (x - _RZ * y + _RY * z)
    yb = _TY + s * (_RZ * x + y - _RX * z)
    zb = _TZ + s * (-_RY * x + _RX * y + z)
    return _xyz_to_geodetic(xb, yb, zb, _A, _E2)


def bd72_to_wgs84(lon, lat):
    """Helmert shift Belgian Datum 1972 -> WGS84 (forward EPSG:15929,
    position-vector convention — the module constants are the inverse
    parameters, so negate them here)."""
    x, y, z = _geodetic_to_xyz(lon, lat, _A, _E2)
    s = 1 - _DS
    rx, ry, rz = -_RX, -_RY, -_RZ
    xw = -_TX + s * (x - rz * y + ry * z)
    yw = -_TY + s * (rz * x + y - rx * z)
    zw = -_TZ + s * (-ry * x + rx * y + z)
    return _xyz_to_geodetic(xw, yw, zw, _WGS_A, _WGS_E2)


def wgs84_to_lambert72_full(lon, lat):
    """True EPSG:31370: datum shift then LCC projection."""
    lon_b, lat_b = wgs84_to_bd72(np.asarray(lon, float), np.asarray(lat, float))
    return wgs84_to_lambert72(lon_b, lat_b)


def lambert72_to_wgs84_full(x, y):
    """True inverse EPSG:31370: LCC inverse then datum shift to WGS84."""
    lon_b, lat_b = lambert72_to_wgs84(x, y)
    return bd72_to_wgs84(lon_b, lat_b)


def _d(v: float) -> str:
    return f"({float(v)!r}D)"  # DOUBLE: a bare 0.5 parses as DECIMAL


def lambert72_sql(phi: str, lam: str) -> tuple[str, str]:
    """``wgs84_to_lambert72`` as Spark SQL: the (x, y) metre expressions
    of BD72 latitude ``phi`` and longitude ``lam``, SQL terms in radians."""
    es = f"{_d(_E)} * sin({phi})"
    rho = (
        f"{_d(_A)} * {_d(_BIGF)} * power(tan(pi() / 4 - {phi} / 2)"
        f" / power((1 - {es}) / (1 + {es}), {_d(_E)} / 2), {_d(_N)})"
    )
    theta = f"{_d(_N)} * ({lam} - {_d(_LON0)})"
    x = f"{_d(_X0)} + {rho} * sin({theta})"
    return x, f"{_d(_Y0)} + {_d(_RHO0)} - {rho} * cos({theta})"


def wgs84_to_bd72_sql() -> list[str]:
    """``wgs84_to_bd72`` as Spark SQL: one ``selectExpr`` item list from
    WGS84 radian columns ``phi``/``lam`` to BD72 radians ``phi6``/``lam_bd``.
    Each intermediate has its own name and later items read it as a
    lateral column alias, so it is computed once; the latitude recovery is
    unrolled to ``_xyz_to_geodetic``'s 6 iterations (``phi0`` … ``phi6``)."""
    nu = f"({_d(_WGS_A)} / sqrt(1 - {_d(_WGS_E2)} * sin(phi) * sin(phi)))"
    s, rx, ry, rz = f"(1 + {_d(_DS)})", _d(_RX), _d(_RY), _d(_RZ)

    def nu_b(phi: str) -> str:
        return f"({_d(_A)} / sqrt(1 - {_d(_E2)} * sin({phi}) * sin({phi})))"

    return [
        f"{nu} * cos(phi) * cos(lam) AS gx", f"{nu} * cos(phi) * sin(lam) AS gy",
        f"{nu} * (1 - {_d(_WGS_E2)}) * sin(phi) AS gz",
        f"{_d(_TX)} + {s} * (gx - {rz} * gy + {ry} * gz) AS xb",
        f"{_d(_TY)} + {s} * ({rz} * gx + gy - {rx} * gz) AS yb",
        f"{_d(_TZ)} + {s} * (-{ry} * gx + {rx} * gy + gz) AS zb",
        "atan2(yb, xb) AS lam_bd", "sqrt(xb * xb + yb * yb) AS p",
        f"atan2(zb, sqrt(xb * xb + yb * yb) * (1 - {_d(_E2)})) AS phi0",
    ] + [
        f"atan2(zb + {_d(_E2)} * {nu_b(f'phi{i}')} * sin(phi{i}), p) AS phi{i + 1}"
        for i in range(6)
    ]
