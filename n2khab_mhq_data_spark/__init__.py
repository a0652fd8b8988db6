"""n2khab_mhq_data_spark — a PySpark-native analytics engine with the query
and data-processing capabilities of the reference `inbo/n2khab-mhq-data`
R/tidyverse ETL codebase, re-expressed Spark-first.

Layout
------
- ``session``    : tuned local SparkSession builder
- ``catalog``    : schema catalog (reference yml classes -> Spark types, factor
                   domains, sort keys), table registry
- ``sources``    : readers (parquet / csv2 / versioned-TSV / JDBC dispatch) and
                   the deterministic versioned sink (git2rdata ``write_vc`` parity)
- ``operators``  : relational building blocks (grain assertions, keyed dedup,
                   membership flags, latest-per-key, reshape, incremental merge)
- ``functions``  : scalar expression library (locale numeric parsing, LOQ flags,
                   sentinel recodes, cover maths)
- ``kernels``    : the reference's domain compute kernels K1-K11 as pure
                   DataFrame plans (cover decode, type resolution, completeness
                   audit, EAV restructure, LSVI rule engine, tariffs, merge)
- ``spatial``    : GEOS-free geometry kernels (point-in-polygon, buffer
                   intersection area) as vectorized pandas UDFs; the
                   Lambert-72 CRS as SQL text
- ``llmdata``    : 100 TB training-data pipeline ops (dedup exact/minhash/simhash,
                   similarity search, text analysis, multimodal plumbing)
- ``streaming``  : event-time operators that run on batch or streaming frames
- ``plans``      : the query registry consumed by ``__spark_entry__``
"""

__version__ = "0.1.0"
