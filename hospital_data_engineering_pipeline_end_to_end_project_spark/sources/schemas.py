"""Explicit schema registry for the six raw hospital sources.

The reference infers every schema (``inferSchema=True``,
``Silver Layer.py:15-19``; JSON inference ``:496-498``) — an extra
full scan per read and nondeterministic on dirty data.  Dirty columns
are unions of ``valid | null | error-marker-string`` (FIXTURES.md), so
they are declared ``StringType`` and resolved by the cleanse-cast
operators, exactly the union the reference's inference lands on — but
declared, deterministic, and scan-free.
"""

from __future__ import annotations

from pyspark.sql import types as T


def _s(*names: str) -> list[T.StructField]:
    return [T.StructField(n, T.StringType(), True) for n in names]


PATIENTS_RAW = T.StructType(
    _s(
        "patient_id",
        "first_name",
        "last_name",
        "gender",
        "age",
        "email",
        "phone",
        "city",
    )
)

DOCTORS_RAW = T.StructType(
    _s("doctor_id", "first_name", "last_name", "speciality", "experience_years")
)

ADMISSIONS_RAW = T.StructType(
    _s(
        "admission_id",
        "patient_id",
        "admission_date",
        "discharge_date",
        "reason",
        "room_no",
        "doctor_id",
    )
)

VITALS_RAW = T.StructType(
    _s("vital_id", "patient_id", "temperature", "heart_rate", "timestamp")
)

PROCEDURES_RAW = T.StructType(
    _s("procedure_id", "patient_id", "procedure_name", "cost", "performed_at")
)

BILLING_RAW = T.StructType(
    [
        T.StructField("billing_id", T.StringType(), True),
        T.StructField("patient_id", T.StringType(), True),
        T.StructField(
            "line_items",
            T.ArrayType(
                T.StructType(
                    [
                        T.StructField("service", T.StringType(), True),
                        T.StructField("amount", T.StringType(), True),
                    ]
                )
            ),
            True,
        ),
        T.StructField("total", T.StringType(), True),
        T.StructField("billing_date", T.StringType(), True),
    ]
)
