from datamodel_clinicaldata_spark.sources.readers import (
    load_clinical_tables,
    read_clinical_csv,
    read_table,
)

__all__ = [
    "load_clinical_tables",
    "read_clinical_csv",
    "read_table",
]
