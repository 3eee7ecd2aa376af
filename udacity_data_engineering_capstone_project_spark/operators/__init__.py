from .aggregates import pivot_wide, rollup_agg  # noqa: F401
from .cleaning import (  # noqa: F401
    dedup,
    drop_columns,
    drop_null_rows,
    fill_nulls,
)
from .joins import asof_join, equi_join, star_join  # noqa: F401
from .sets import union_distinct  # noqa: F401
from .sorting import top_k  # noqa: F401
from .windows import rank_in_group, sessionize  # noqa: F401
