from .tables import load_table, register_views  # noqa: F401
from .transcripts import TRANSCRIPTS_CTE, transcripts_df  # noqa: F401
from .dims import enums_df, ROLES_SQL, TOOLS_SQL, ENUMS_SQL  # noqa: F401
