"""Business-meaning column comments for the star vocabulary.

The reference documents every raw column with a COMMENT ON COLUMN
(``ETL Gasto publico Perú/sql/CreacionDBOrigen.sql:75-137``); those
descriptions are carried here keyed by STAR column name (the loader's
rename applied, ``etl/cargar_postgres.py:159-233``) and attached as
Spark column metadata (``Column.metadata["comment"]``) on the warehouse
tables and served views — parquet persists Spark field metadata, so a
BI user reading the warehouse sees the business meaning in the schema,
same as a psql user running ``\\d+`` against the reference.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .functions.sqltext import ident

#: star column → business description (CreacionDBOrigen.sql:75-137).
COLUMN_COMMENTS: dict[str, str] = {
    "anio": "Año de ejecución del presupuesto.",
    "mes": "Mes de ejecución del presupuesto.",
    "nivel_gobierno_codigo": (
        "Código (letra) que identifica el Nivel de Gobierno: E, R, M; "
        "para Nacional, Regionales y Locales, respectivamente."
    ),
    "nivel_gobierno_nombre": (
        "Descripción de Nivel de Gobierno: Nacional, Regionales y Locales."
    ),
    "sector": "Código de Sector al que pertenece la Entidad.",
    "sector_nombre": "Descripción del Sector al que pertenece la Entidad.",
    "pliego": "Código de Pliego al que pertenece la Entidad.",
    "pliego_nombre": "Descripción de Pliego al que pertenece la Entidad.",
    "sec_ejec": "Código de Unidad Ejecutora (UE).",
    "ejecutora_codigo": "Código de Unidad Ejecutora.",
    "ejecutora_nombre": "Nombre de la Unidad Ejecutora.",
    "dep_ejecutora_codigo": "Código de Departamento de la UE.",
    "dep_ejecutora_nombre": "Nombre de Departamento de la UE.",
    "prov_ejecutora_codigo": "Código de Provincia de la UE.",
    "prov_ejecutora_nombre": "Nombre de Provincia de la UE.",
    "dist_ejecutora_codigo": "Código de Distrito de la UE.",
    "dist_ejecutora_nombre": "Nombre de Distrito de la UE.",
    "programa_ppto": "Código del Programa Presupuestal.",
    "programa_ppto_nombre": "Nombre del Programa Presupuestal.",
    "tipo_act_proy": "Código de Tipo (Actividad/Acción/Proyecto).",
    "tipo_act_proy_nombre": "Descripción de Tipo (Actividad/Acción/Proyecto).",
    "producto_proyecto": "Código del Producto/Proyecto.",
    "producto_proyecto_nombre": "Nombre del Producto/Proyecto.",
    "actividad_accion_obra": "Código de Actividad/Acción/Obra.",
    "actividad_accion_obra_nombre": "Nombre de Actividad/Acción/Obra.",
    "funcion": "Código de Función de gasto.",
    "funcion_nombre": "Nombre de la Función.",
    "division_funcional": "Código de División Funcional.",
    "division_funcional_nombre": "Nombre de la División Funcional.",
    "grupo_funcional": "Código de Grupo Funcional.",
    "grupo_funcional_nombre": "Nombre del Grupo Funcional.",
    "meta": "Código de la Meta presupuestal.",
    "finalidad": "Código de Finalidad.",
    # the reference's comment list skips finalidad_nombre; described in
    # the same style for completeness
    "finalidad_nombre": "Nombre de la Finalidad.",
    "meta_nombre": "Nombre de la Meta presupuestal.",
    "dep_meta_codigo": "Código del Departamento de la Meta.",
    "dep_meta_nombre": "Nombre del Departamento de la Meta.",
    "sec_func": "Código de la Sección Funcional (Sec Func).",
    "fuente_financiamiento": "Código de la Fuente de Financiamiento.",
    "fuente_financiamiento_nombre": (
        "Descripción de la Fuente de Financiamiento."
    ),
    "rubro": "Código de Rubro.",
    "rubro_nombre": "Descripción de Rubro.",
    "tipo_recurso": "Código de Tipo de Recurso.",
    "tipo_recurso_nombre": "Descripción de Tipo de Recurso.",
    "categoria_gasto": "Código de Categoría de Gasto.",
    "categoria_gasto_nombre": "Descripción de Categoría de Gasto.",
    "tipo_transaccion": "Código de Tipo de Transacción.",
    "generica": "Código de Genérica.",
    "generica_nombre": "Descripción de Genérica.",
    "subgenerica": "Código de Subgenérica.",
    "subgenerica_nombre": "Descripción de Subgenérica.",
    "subgenerica_det": "Código de Subgenérica Detallada.",
    "subgenerica_det_nombre": "Descripción de Subgenérica Detallada.",
    "especifica": "Código de Específica.",
    "especifica_nombre": "Descripción de Específica.",
    "especifica_det": "Código de Específica Detallada.",
    "especifica_det_nombre": "Descripción de Específica Detallada.",
    "monto_pia": "Presupuesto Institucional de Apertura (PIA).",
    "monto_pim": "Presupuesto Institucional Modificado (PIM).",
    "monto_certificado": "Monto Certificado.",
    "monto_comprometido_anual": "Monto Comprometido Anual.",
    "monto_comprometido": "Monto Comprometido Mensual.",
    "monto_devengado": "Monto Devengado.",
    "monto_girado": "Monto Girado.",
    # dim_tiempo (CreacionDeDataWareHouse.sql:9-15)
    "fecha": "Primer día del mes del período presupuestal.",
    "trimestre": "Trimestre calendario del período.",
}


def with_column_comments(
    df: DataFrame, comments: dict[str, str] = COLUMN_COMMENTS
) -> DataFrame:
    """Attach the business comment to every matching column's metadata,
    in one projection.  Parquet round-trips Spark field metadata, so
    warehouse tables keep their documentation."""
    return df.select(
        *[
            F.col(ident(c)).alias(c, metadata={"comment": comments[c]})
            if c in comments
            else F.col(ident(c))
            for c in df.columns
        ]
    )
