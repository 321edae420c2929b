"""WordNet-morphy noun lemmatization (exact algorithm, pluggable lexicon).

Reference analogue: ``rag/nlp/rag_tokenizer.py:67,266`` calls NLTK's
``WordNetLemmatizer().lemmatize(t)`` with the DEFAULT pos — i.e. noun
morphy only.  That algorithm (public, from WordNet's morphy and NLTK's
``wordnet._morphy``) is implemented here exactly:

  0. if the form is a known irregular (noun.exc), candidates are the
     form itself plus its exception lemmas;
  1. otherwise candidates are the form plus one application of the noun
     detachment rules (s→ '', ses→s, ves→f, xes→x, zes→z, ches→ch,
     shes→sh, men→man, ies→y);
  2. rules re-apply repeatedly to the previous round's outputs until
     some candidate validates;
  * at every step candidates are VALIDATED against the noun lexicon —
    an unknown word comes back unchanged (morphy never guesses);
  * ``lemmatize`` returns the SHORTEST validated candidate
    (``min(lemmas, key=len)``), or the word itself when none validate.

The algorithm is exact; the WordNet lexicon itself is an external asset
(same situation as ``huqie.txt`` for the CJK dict): a built-in ~3.7k
common-noun lexicon plus the full irregular-plural table ships by
default, and ``RAG_WORDNET_NOUNS`` loads a full ``index.noun``-derived
wordlist (one lemma per line) for deployment parity.
"""

from __future__ import annotations

import os

# WordNet noun detachment rules (MORPHOLOGICAL_SUBSTITUTIONS[NOUN])
_NOUN_RULES = [
    ("s", ""), ("ses", "s"), ("ves", "f"), ("xes", "x"), ("zes", "z"),
    ("ches", "ch"), ("shes", "sh"), ("men", "man"), ("ies", "y"),
]
_NOUN_SUFFIXES = tuple(old for old, _new in _NOUN_RULES)

# irregular plurals (noun.exc-style; public list)
_NOUN_EXC = {
    "aquaria": ["aquarium"], "alumni": ["alumnus"], "alumnae": ["alumna"],
    "analyses": ["analysis"], "antennae": ["antenna"],
    "appendices": ["appendix"], "axes": ["ax", "axis"],
    "bacilli": ["bacillus"], "bacteria": ["bacterium"], "bases": ["basis"],
    "beaux": ["beau"], "bison": ["bison"], "brethren": ["brother"],
    "bureaux": ["bureau"], "cacti": ["cactus"], "calves": ["calf"],
    "children": ["child"], "corpora": ["corpus"], "crises": ["crisis"],
    "criteria": ["criterion"], "curricula": ["curriculum"],
    "data": ["datum"], "deer": ["deer"], "diagnoses": ["diagnosis"],
    "dice": ["die"], "dwarves": ["dwarf"], "elves": ["elf"],
    "emphases": ["emphasis"], "errata": ["erratum"], "feet": ["foot"],
    "fish": ["fish"], "foci": ["focus"], "formulae": ["formula"],
    "fungi": ["fungus"], "geese": ["goose"], "genera": ["genus"],
    "halves": ["half"], "hooves": ["hoof"], "hypotheses": ["hypothesis"],
    "indices": ["index"], "knives": ["knife"], "larvae": ["larva"],
    "leaves": ["leaf"], "lice": ["louse"], "lives": ["life"],
    "loaves": ["loaf"], "matrices": ["matrix"], "media": ["medium"],
    "memoranda": ["memorandum"], "men": ["man"], "mice": ["mouse"],
    "moose": ["moose"], "neuroses": ["neurosis"], "nuclei": ["nucleus"],
    "oases": ["oasis"], "octopi": ["octopus"], "oxen": ["ox"],
    "parentheses": ["parenthesis"], "people": ["person"],
    "phenomena": ["phenomenon"], "quizzes": ["quiz"], "radii": ["radius"],
    "scarves": ["scarf"], "selves": ["self"], "series": ["series"],
    "sheep": ["sheep"], "shelves": ["shelf"], "species": ["species"],
    "stimuli": ["stimulus"], "strata": ["stratum"], "swine": ["swine"],
    "syllabi": ["syllabus"], "symposia": ["symposium"],
    "syntheses": ["synthesis"], "teeth": ["tooth"], "theses": ["thesis"],
    "thieves": ["thief"], "vertebrae": ["vertebra"], "vertices": ["vertex"],
    "vortices": ["vortex"], "wives": ["wife"], "wolves": ["wolf"],
    "women": ["woman"],
}

# built-in noun lexicon: ~3.7k common English nouns (web/tech register
# weighted — this engine processes web text) + every exception lemma.
# RAG_WORDNET_NOUNS replaces it with a full index.noun wordlist.
_BUILTIN_NOUNS = """
ability access accident account act action activity actor address
administration adult advance advantage advertising advice affair age
agency agent agreement air aircraft airline airport alarm album alcohol
algorithm amount analysis analyst anchor angle animal answer apartment
api app apple application appointment approach architecture area
argument arm army array arrival art article artist aspect assignment
assistant association assumption atmosphere attack attempt attention
attitude audience author authority average award baby back background
bag balance ball band bank bar base baseline basis basket batch bath
battery battle beach bear beauty bed bedroom beer beginning behavior
belief bell belt benchmark benefit bias bicycle bill bin bird birth
birthday bit block blog blood board boat body bone bonus book boot
border boss bottle bottom boundary bowl box boy brain branch brand
bread break breakfast breath brick bridge broadcast brother browser
bucket budget buffer bug building bus business button buyer byte cable
cache cake calendar call camera camp campaign campus cancer candidate
cap capacity capital captain car card care career cargo carpet carrier
case cash cat catalog category cause ceiling cell census center century
chain chair challenge chance change channel chapter character charge
chart check cheese chef chemical chest chicken chief child choice
church cigarette circle citizen city claim class classroom client
climate clock cloth cloud cluster coach coast code codec coffee column
combination comment commission committee community company comparison
competition compiler complaint component computer concept concern
concert conclusion condition conference config confidence conflict
connection consequence constant constraint construction consumer
contact container content contest context contract contribution
control conversation cookie copy core corner corpus cost council count
counter country county couple courage course court cousin cover cow
crash credit crew crime criticism crop cross crowd cultivar culture
cup currency current curve customer cycle dad damage dance danger
data database date daughter day deal dealer death debate debt decade
decision deck decoder default defense definition degree delay delivery
demand density department departure deposit depth design designer
desire desk detail detection developer development device diagram
dialect dialog diet difference difficulty dimension dinner direction
director dirt disaster discipline discount discussion disease dish
disk display distance distribution district doctor document dog dollar
domain door dot downtown dozen draft drama drawer drawing dream dress
drink driver drop drug dump dust duty ear earth east economy edge
editor education effect efficiency effort egg election element
elevator email emergency emotion emphasis employee employer employment
encoder end enemy energy engine engineer entry environment episode
equipment error escape essay estate estimate evening event evidence
exam example exchange executor exercise exit experience expert
explanation expression extent eye face fact factor factory failure
fall family fan farm farmer fashion father fault feature fee feedback
feeling female fence field fig fight figure file filter final finding
finger fire firm fish flag flight floor flow flower focus folder food
foot force forest fork form format fortune forum foundation frame
framework freedom friend front fruit fuel fun function fund future
gain galaxy game gap garage garden gas gate gather gear gene
generation gentleman gift girl glass goal gold golf government grade
grain gram grandmother graph grass group growth guard guess guest
guidance guide guitar gun guy habit hair half hall hand handle harbor
hash hat head health hearing heart heat height hello help hero
highway hill history hit hobby hole holiday home honey hook hope horse
hospital host hotel hour house household housing human hundred husband
ice idea image impact implementation importance impression improvement
inch incident income increase independence index indication industry
inflation influence information ingredient initiative injury input
inspection inspector instance instruction insurance intention interest
internet interview introduction investment invoice iron island issue
item job join joint journal journey judge judgment juice jump jury
kernel key keyboard kid kilometer kind king kitchen knee knife
knowledge lab label lack ladder lady lake lamp land language laptop
latency law lawyer layer layout lead leader leadership leaf league
lecture leg length lesson letter level library license lie life light
limit line link lip liquid list listing literature load loaf loan
lock log logic loop loss lot love luck lunch machine magazine mail
main maintenance majority male mall man management manager manner
manual map margin mark market marketing marriage master match material
math matrix matter meal meaning measure measurement meat medicine
medium meeting member membership memory mention menu merge message
metadata metal meter method midnight migration mile milk mind minute
mirror mission mistake mix mixture mode model mom moment money monitor
month mood morning mother motor mountain mouse mouth move movie mud
muscle music nation nature neck need network news newspaper night
node noise north nose note notebook notice novel number nurse object
objective obligation occasion offer office officer oil operation
operator opinion opportunity option orange order organization origin
outcome output oven owner package page pain paint painting pair panel
paper paragraph parent park parser part partition partner party pass
passage passenger password past patch path patience patient pattern
pause payload payment peace peak penalty people percentage perception
performance period permission person personality perspective phase
philosophy phone photo phrase physics piano picture pie piece pin pipe
pipeline pitch pixel pizza place plan plane planet plant plastic plate
platform play player pleasure plenty poem poet poetry point police
policy politics pollution pool population port position possession
possibility post pot potato pound power practice prefix preparation
presence present president pressure price pride priest primary
principle print printer priority prison problem procedure process
processor produce product profession professor profile profit program
project promise promotion prompt proof property proposal protection
protocol psychology public purchase purpose push quality quantity
quarter queen query question queue quiz radio rain range rank rate
ratio reaction reader reading reality reason recipe record recording
recovery reference reflection region register regret relation
relationship release relief religion replacement reply report request
requirement research resident resolution resource respect response
responsibility rest restaurant result return revenue review
revolution reward rice ring risk river road rock role roof room root
rope rotation route routine row rule runtime safety salad salary sale
salt sample sand scale scan scene schedule schema scheme school
science scientist score scratch screen script sea search season seat
second secret secretary section sector security seed segment
selection self seller sense sentence series server service session
set setting shape share shell shift ship shirt shoe shop shopping
shoulder show shower side sign signal signature silver singer sink
sister site situation size skill skin sky sleep slice slide smoke
snapshot snow society sock software soil solution son song sort sound
soup source south space speaker species speech speed spark spirit
sport spot spouse spring square stack staff stage standard star start
state statement station status steak steel step stick stock stomach
stop storage store storm story strategy stream street strength stress
string structure struggle student studio study stuff style subject
substance success suffix sugar suggestion suite summer sun supplier
supply support surface surgery surprise survey suspect switch symbol
sympathy syntax system table tail tale talk tank target task taste
tax tea teacher team tear technology telephone television temperature
template tennis tension term test text thanks theme theory thing
thread throat thumb ticket tie time tip title token tongue tool tooth
top topic total touch tour tourist towel tower town toy track trade
tradition traffic train trainer training transaction transition
transport trash travel treatment tree trick trip truck trust truth
tune tuple turn twist type uncle union unit update upgrade usage user
vacation value variable variation variety vector vehicle version
video view village virus visit visitor voice volume wall war warning
watch water wave way wealth weather web website wedding week weekend
weight west wheel while wife win wind window wine wing winner winter
wire wish woman wood word work worker workshop world worry wrap
writer writing yard year youth zone
""".split() + """
acre actress airplane alley almond ambulance anchor ankle ant antenna
apartment apology appetite apricot apron aquarium arch archer arena
arrow ash asset astronomer athlete atom attic auction audit aunt
avenue axe axis bacon badge bag bakery balcony balloon bamboo banana
banner barn barrel basement bat bay beam bean beard beast bee beef
beet beetle bell berry bicycle billboard biography biology birch
biscuit blade blanket blizzard blossom blouse blueberry boar bolt
bomb bone bonnet border bowl bracelet brake brass bravery breeze
bride bridge broccoli bronze broom bubble bud buffalo bulb bull
bullet bumper bun bundle bunker burden bureau burglar bush butter
butterfly buttonhole cabbage cabin cabinet cactus cafe cage
calculator calf camel canal candle candy cannon canoe canvas canyon
captive caramel caravan carbon cardboard cardinal carnival carpenter
carriage carrot cart cartoon cascade cashier casserole castle cat
caterpillar cathedral cattle cauliflower cave celery cellar cello
cement cemetery chain chalk chamber chandelier chapel chariot charm
chart cheek cheetah cherry chess chestnut chimney chin china chip
chocolate choir chord chorus cider cinema cinnamon circus clam
clarinet clay cliff clinic cloak closet clover clown club clue coal
coat cobweb cockpit cocoa coconut cod coffin coin collar colony
comb comedy comet compass concrete cone constellation continent
copper coral cord corduroy cork corn corpse corridor cottage cotton
couch cougar courtyard crab cradle crane crater crayon cream creek
cricket crocodile crow crown crumb crust crystal cub cube cucumber
cupboard curb curtain cushion cypress dagger dairy daisy dam dancer
dandelion dart dashboard dawn deck deed delta demon den denim dessert
dew diamond diary dice dictionary dime dinosaur diploma dipper ditch
dock doctrine dolphin dome donkey donor dough dove dragon dragonfly
drain drawbridge drill drought drum duck duckling duke dune dusk
eagle earthquake easel eclipse eel elbow elder elephant elm embassy
ember emerald emperor empire engine envelope equator ermine escort
essence estuary ether eyebrow eyelash fabric falcon fang fawn feast
feather fern ferry fever fiber fiddle fig filament fin firefly
fireplace firework fist flame flamingo flannel flask fleet flesh
flint flock flood flour flu flute foam fog foil folk forehead
forge fort fountain fox fraction freckle freezer freight frog frost
frown fudge fume funnel fur furnace galleon gallery gallon galoshes
gander garland garlic garment gazelle gem general geranium giant
ginger giraffe glacier glade gland glider globe glove glue goat
goggles goldfish gondola gong gorilla gown granite grape grapefruit
grasshopper gravel gravy grease greenhouse grenade greyhound grill
grove guardian gull gum gutter gymnasium hail hamburger hammer
hammock hamper hamster handkerchief handlebar hare harmonica harness
harp harvest hatch hawk hay hazel heater hedge hedgehog heel heir
helicopter helmet hen herb herd hermit heron hickory hinge hive hog
honeycomb hood hoof horizon horn hornet hose hound hurricane hut
hyena iceberg icicle idol igloo incense infant ink inlet inn insect
iris ivory ivy jacket jade jaguar jam jar jaw jelly jellyfish jewel
jug jungle kangaroo kayak keel keg kettle kettledrum kingdom kite
kitten knapsack knight knob knot koala lace ladle ladybug lagoon
lair lamb lantern lapel larch lard lark lava lavender lawn lead
leash ledge leek lemon lemonade lens leopard leotard lettuce lever
lighthouse lilac lily lime limestone limousine linen lint lion
liver lizard llama lobster locket locomotive
locust lodge loft
lumber lynx mackerel magnet magnolia mahogany maid mane mango
mansion mantel maple marble mare marigold marsh mask mast mat
mattress meadow melon mermaid meteor midst mildew mill millet
miner mink mint missile mist mitten moat mole monastery monk
monkey monster monument moon moonlight morsel mosaic mosquito
moss moth motorcycle mound mule mushroom musket mustache mustard
myth nail napkin nectar needle nest nettle nickel nightingale
noodle nostril nugget nursery nut nutmeg nylon oak oar oasis oat
oatmeal ocean octopus offspring ointment olive omelet onion opal
opera orchard orchestra orchid ore organ oriole ostrich otter
outline outpost owl oxcart oyster paddle padlock pail palace palm
pancake panda pansy panther pantry parachute parade parakeet parcel
parlor parrot parsley parsnip pasture patio paw peach peacock
peanut pear pearl peasant pebble pecan pedal pelican pendulum
penguin peninsula penny pepper perch perfume petal petticoat pew
pheasant pickle pier pigeon pike pillar pillow pilot pine pineapple
pistol pit pitcher plank plateau platter plow plum plumber plume
pocket pod pony poppy porch porcupine porridge porter postcard
poster pouch poultry prairie prune pudding puddle pulley pump
pumpkin puppet puppy pyramid quail quarry quart quartz quill quilt
rabbit raccoon raft rag raisin rake ranch raspberry rat raven
ravine razor reef reindeer reptile rhubarb rib ribbon riddle ridge
rifle rim rind rink ripple robe robin rocket rod rooster rosebud
rudder rug ruler rust rye saddle sage sail sailor salmon saloon
sandal sandwich sap sapphire sardine satchel satin sauce saucer
sausage saw scaffold scallop scalp scar scarecrow scarf schooner
scooter scorpion scroll scythe seal seam seaweed sedan seesaw
serpent shack shale shamrock shark shawl shed shepherd sheriff
shield shin shingle shovel shrimp shrub shutter sickle silk sill
siren skate skeleton ski skillet skirt skull skunk sled sleeve
sleigh slipper slope sloth smock snail snake snout snowflake sofa
sole sparrow spear sphere spider spinach spine spiral spire sponge
spool spoon spout sprout spruce spur squadron squid squirrel
stable stadium stagecoach stair stake stallion stamp starch
starfish statue steam steamboat steeple stem stew stilt sting
stork stove strait strap straw strawberry stream stump sturgeon
submarine suburb sulfur sundial sunflower surf swallow swamp swan
sweater swing sword sycamore syrup tablet tadpole taffy talon
tambourine tangerine tapestry tar tarp tassel tavern teapot
telescope tent tentacle termite terrace thermometer thicket thigh
thimble thistle thorn thread throne thunder tiara tide tiger tile
timber tin toad toadstool toast toe tomato tomb tonic torch
tornado torpedo tortoise tote tourniquet trail trailer tram
trampoline trapeze tray treasure trench triangle tribe tributary
trolley trombone trout trowel trumpet trunk tub tuba tulip tundra
tunnel turban turkey turnip turret turtle tusk tutor tweed twig
twine udder umbrella umpire unicorn urn vacuum vale valley valve
van vane vanilla vapor vase vault veal veil vein velvet vendor
vine vinegar viola violet violin vise vowel voyage vulture waffle
wagon waist walnut walrus wand wardrobe warehouse wart wasp weasel
weed well whale wharf wheat whisker whistle wick wig wigwam willow
wilt wince windmill windshield wink wolf wombat wool workbench
worm wreath wren wrench wrist yacht yak yarn yeast yoke yolk zebra
zephyr zinc zipper
""".split() + """
ability absence abstraction academy accent acceptance access accident
accommodation accomplishment accountability accountant accumulation
accuracy accusation achievement acquisition action activation activity
adaptation addition address adjustment administration administrator
admission adoption advance advantage adventure advertisement advice
adviser advocacy affair affection agency agenda aggregate aggregation
agreement agriculture aid aim alarm album alert algorithm alignment
allegation alliance allocation allowance alternative altitude amateur
ambassador ambition amendment amount analogy analysis analyst ancestor
anchor angle anniversary announcement annotation anomaly answer
anticipation anxiety apartment apology apparatus appeal appearance
appendix appetite applause applicant application appointment
appreciation apprentice approach approval arc architect architecture
archive arena argument arithmetic arrangement arrest arrival arrow
article artifact artillery artist aspect aspiration assembly assertion
assessment asset assignment assistance assistant association
assumption assurance asylum athlete atmosphere atom attachment attack
attempt attendance attention attitude attorney attraction attribute
auction audience audit auditor authentication author authority
authorization automation autonomy availability average aviation
awareness backbone background backup bacterium badge balance ballot
bandwidth banner bargain barrier baseline basis batch battery battle
beginning behavior belief benchmark benefit bias bibliography bid
billing biography biology birth bit blade blame blanket blend block
blockade blueprint board bond bonus booking boost border boundary
bracket brand breach breadth break breakdown breakthrough breath
brick bridge briefing broadcast browser budget buffer bug bulk
bulletin bundle burden bureau bureaucracy burst bus business byte
cabinet cache calculation calculator calendar campaign canal
cancellation candidate capability capacity capital caption carbon
career cargo carrier cartridge case cash catalog catalyst category
cattle caution ceiling celebration cell census ceremony certainty
certificate certification chain chairman challenge chamber champion
championship chancellor change channel chaos chapter character
characteristic charge charity chart charter chase checklist checkout
checkpoint chemistry childhood chip choice chord chronicle
circulation circumstance citation citizen citizenship civilization
claim clarification clarity class classification classroom clause
clearance click client climate clinic clock closure cloud cluster
coach coalition code coefficient coincidence collaboration collapse
colleague collection collector college collision column combination
combo comfort command commander comment commentary commerce
commission commitment committee commodity communication community
companion company comparison compassion compatibility compensation
competence competition competitor compilation compiler complaint
complement completion complexity compliance component composition
compound compression compromise computation computer concentration
concept conception concern concert concession conclusion concurrency
condition conductor conference confidence configuration confirmation
conflict confusion congress conjunction connection consciousness
consensus consent consequence conservation consideration consistency
console consolidation conspiracy constant constellation constituency
constitution constraint construction consultant consultation
consumption contact container content contention contest context
continent contingency continuation contract contractor contradiction
contrast contribution contributor control controller controversy
convention conversation conversion converter conviction cooperation
coordinate coordination coordinator copy copyright core corner
corporation correction correlation correspondence correspondent
corridor corruption cost costume cottage council counsel counselor
count counter country county courage course court courtyard
covenant coverage creation creativity creator creature credential
credibility credit crew crime crisis criterion critic criticism
critique crop crossing crowd crown cruise cube cue cuisine culture
cure curiosity currency curriculum cursor curve custody custom
customer cut cycle cylinder dairy damage dance danger dashboard
database dataset date datum deadline dealer debate debt debut decade
decision deck declaration decline decomposition decoration decrease
decree deduction deed default defeat defect defendant defense
deficiency deficit definition degree delay delegate delegation
deletion delight delivery demand democracy demonstration denial
density department departure dependence dependency deployment deposit
depression depth deputy derivative descendant descent description
descriptor desert design designer desire desk destination
destruction detail detection detective detector determination
developer development deviation device devotion diagnosis diagram
dialect dialogue diameter dictionary diet difference difficulty
digest digit dignity dilemma dimension diploma diplomacy diplomat
direction directive director directory disability disadvantage
disagreement disappointment disaster discharge discipline disclosure
discount discourse discovery discrepancy discretion discrimination
discussion disease dish disk dismissal disorder dispatch display
displacement dispute disruption dissent distance distinction
distribution district diversity dividend division doctrine document
documentation domain dominance donation donor dose draft drama
drawing dream drift drill driver drop drought duration duty dynamic
earnings economics economist economy edge edition editor education
educator effect efficiency effort election electricity electron
elegance element elevation eligibility elimination elite emergence
emergency emission emotion emphasis empire employee employer
employment encoding encounter encouragement encryption encyclopedia
endeavor endorsement endpoint enemy energy enforcement engagement
engine engineer engineering enrollment enterprise entertainment
enthusiasm entity entrance entrepreneur entry envelope environment
episode equality equation equilibrium equipment equity equivalent
era error escalation escape essay essence establishment estate
estimate estimation ethic evaluation event evidence evolution
examination example exception excerpt excess exchange excitement
exclusion excuse execution executive exemption exercise exhaustion
exhibit exhibition existence exit expansion expectation expedition
expenditure expense experience experiment expert expertise
expiration explanation exploration explosion exponent export
exposure expression extension extent extraction eyewitness fabric
facility factor factory faculty failure fairness faith fallback
fame familiarity family fare farmer fashion fate fatigue fault favor
feature federation fee feedback feeling fellowship festival fiber
fiction field fighter figure file filter finance finding firm
firmware fitness fixture flag flavor fleet flexibility flight flood
floor flow fluctuation fluid focus folder footage footprint force
forecast foreigner forest forgiveness format formation formula
fortune forum foundation founder fraction fragment frame framework
franchise fraud freedom freight frequency friendship frontier
frustration fuel fulfillment function functionality fund
fundamental funding funeral furniture fusion future gain gallery
gap garbage gateway gathering gender gene generation generator
genius genre gentleman geography geometry gesture giant glance
globe glossary goal governance government governor grace grade
gradient graduate grain grammar grant graph graphic gratitude
gravity grief grocery growth guarantee guardian guidance guide
guideline guilt habit habitat hallway handler happiness harassment
hardware harmony harvest hazard header headline headquarters heap
height heritage hierarchy highlight highway hint histogram
historian hobby holder holding holiday homeland homework honesty
honor hook horizon hormone hospital hospitality host hostage
hostility household housing hub humanity humidity humor hurricane
hybrid hydrogen hygiene hypothesis icon idea ideal identification
identifier identity ideology idiom ignorance illusion illustration
image imagination imbalance imitation immigrant immigration immunity
impact implementation implication import importance imprisonment
improvement impulse incentive incident inclination inclusion income
increase increment independence index indication indicator
individual industry inequality infancy infant infection inference
inflation influence information infrastructure ingredient
inhabitant inheritance initiative injection injury injustice
innovation input inquiry insertion insight inspection inspector
inspiration installation instance instinct institute institution
instruction instructor instrument insurance intake integer
integration integrity intelligence intensity intent intention
interaction interest interface interference intermediary
interpretation interruption intersection interval intervention
interview introduction intuition invasion invention inventory
investigation investigator investment investor invitation invoice
involvement iron irony island isolation issue item iteration
jacket jail jargon jaw jazz jeopardy job journal journalism
journalist journey judge judgment junction jurisdiction juror jury
justice justification keyboard keyword kind kindness kingdom kit
knowledge lab label labor laboratory landing landlord landmark
landscape lane language laptop latitude launch law lawsuit lawyer
layer layout leader leadership league leak lease lecture legacy
legend legislation legislature legitimacy leisure length lens lesson
letter level liability liberation liberty librarian library license
lifestyle lifetime lift limb limit limitation line lineage liner
linguist link liquid list listener listing literacy literature
litigation load loan lobby location lock log logic login logistics
longitude lookup loop loss lot lottery loyalty luck luggage lumber
luxury machine machinery magazine magnitude mainframe maintenance
majority management manager mandate maneuver manifest manipulation
manner manor manual manufacturer manufacturing manuscript map margin
marker market marketing marketplace marriage mask mass master
mastery match material mathematician mathematics matrix matter
maximum mayor meal meaning measure measurement mechanic mechanism
medal media median medication medicine medium meeting member
membership memo memoir memorial memory mention mentor menu merchant
mercy merger merit mesh message metadata metal metaphor meter method
methodology metric microphone middleware migration milestone
military milk mill mind mine miner mineral minimum minister
ministry minority minute miracle mirror misery mission missionary
mistake mixture mob mobility mode moderator modification module
moisture molecule moment momentum monarchy monastery money monitor
monopoly monument mood morale morality morning mortality mortgage
motion motivation motive motor motto mouse movement movie multitude
municipality muscle museum musician mutation mystery myth namespace
narrative nation nationality necessity need negligence negotiation
neighbor neighborhood nerve nest network neuron neutrality newsletter
niche night nitrogen node noise nomination nominee norm notation
note notebook notice notification notion novel novelist nucleus
number nurse nursery nutrition oak oath obedience object objection
objective obligation observation observer obsession obstacle
occasion occupation occurrence ocean offense offer offering office
officer official offset offspring opening opera operation operator
opinion opponent opportunity opposition optimism optimization
option oracle orbit orchestra order ordinance organ organism
organization orientation origin originality ornament orphan outbreak
outcome outfit outlet outline outlook output outrage outsider oven
overflow overhead overlap oversight overview owner ownership oxygen
pace pack package packet pact pad page pain painter painting pair
palace palette pamphlet panel panic paper paperwork parade paradigm
paradox paragraph parallel parameter parcel pardon parent parish
parliament parser part participant participation particle partition
partner partnership party passage passenger passion password past
pastor patch path patience patient patriot patrol patron pattern
pause pavement payload payment payroll peace peak peasant penalty
pension percentage perception performance perimeter period
permission persistence person personality personnel perspective
persuasion pessimism pet petition phase phenomenon philosopher
philosophy phrase physician physicist physics pick picture piece
pile pilgrim pillar pilot pipeline pity pixel place placement
plain plaintiff plan plane planet planner planning plant plantation
plate platform play player plaza plea pleasure pledge plot plugin
plumber plunge pocket poem poet poetry point pointer poison policy
politician politics poll pollution pool population port porter
portfolio portion portrait position possession possibility post
poster posture potential pottery poverty powder power practice
practitioner praise prayer precaution precedent precision predator
predecessor prediction preference prefix pregnancy prejudice
premise premium preparation prescription presence presentation
preservation presidency president press pressure prestige pretext
prevention preview prey price pride priest primary prince princess
principal principle print printer priority prison prisoner privacy
privilege prize probability probe problem procedure proceeding
process procession processor producer product production
productivity profession professional professor profile profit
prognosis program programmer progress prohibition project
projection promise promotion prompt proof propaganda property
prophecy prophet proportion proposal proposition proprietor prose
prosecution prosecutor prospect prosperity protection protein
protest protocol prototype province provision proxy psychologist
psychology publication publicity publisher punctuation punishment
pupil purchase purity purpose pursuit puzzle pyramid qualification
quality quantity quarter query quest question questionnaire queue
quota quotation quote radiation radius rage raid rail railway
rainbow rally range rank ranking ratio ration rationale reaction
reader reading reality realization realm reason reasoning rebellion
receipt receiver reception recipe recipient recognition
recommendation record recorder recovery recruit recruitment
rectangle redemption reduction redundancy reference referendum
refinement reflection reform refuge refugee refund refusal regime
regiment region register registration registry regression regret
regulation regulator rehabilitation reign rejection relation
relationship relaxation release relevance reliability relief
religion reluctance remainder remark remedy reminder remnant
removal renaissance rendering renewal rent repair repetition
replacement replica reply report reporter repository
representation representative reputation request requirement
rescue research researcher resemblance reservation reservoir
residence resident residue resignation resilience resistance
resolution resort resource respect respondent response
responsibility restaurant restoration restraint restriction result
resume retailer retention retirement retreat retrieval return
reunion revelation revenge revenue reverse review reviewer revision
revival revolution reward rhetoric rhythm riddle ridge rifle right
ring riot risk ritual rival rivalry river roadmap robot rocket role
rollback rollout roof room root rope roster rotation route router
routine row royalty rubric ruin rule ruler rumor runtime rush
sabotage sack sacrifice saddle safeguard safety saint salad salary
sale salesman salvation sample sanction sanctuary sand satellite
satisfaction sauce saving scale scan scanner scandal scenario scene
scenery schedule schema scheme scholar scholarship school science
scientist scope score scratch screen screening script scripture
scrutiny sculpture seal search season seat secret secretary section
sector security sediment segment selection self semester seminar
senate senator sensation sense sensitivity sensor sentence
sentiment separation sequel sequence sergeant series sermon servant
server service session setting settlement settler setup severity
shade shadow shaft shape share shareholder shelf shell shelter
shepherd sheriff shift shipment shipping shock shortage shortcut
shoulder showcase shower shrine sibling side siege sight sign
signal signature significance silence silk similarity simulation
sin singer sink sir site situation size skeleton sketch skill
skin skyline slavery sleep slice slide slogan slope slot smell
smile snapshot society sociology software soil soldier solicitor
solidarity solo solution solvent sophistication sort soul sound
source sovereignty space spam span speaker specialist specialty
species specification specimen spectacle spectator spectrum
speculation speech speed spelling sphere spirit spite spokesman
sponsor sponsorship sport spot spouse spread spreadsheet spring
sprint spy square stability stack stadium staff stage stake
stakeholder stall stamp stance standard standing stanza staple
star start startup state statement station statistic statue
status statute stay steam steel stem stereotype stick stimulus
stock stomach stone storage store storm story stove strain strand
stranger strategy stream street strength stress stretch strike
string strip stroke structure struggle student studio study stuff
style subject submission subscriber subscription subsidiary subsidy
substance substitute substitution subtlety suburb subway success
succession successor suffering sufficiency suffix sugar suggestion
suit suite sum summary summit summons sunlight sunrise sunset
supermarket supervision supervisor supplement supplier supply
support supporter suppression supremacy surface surgeon surgery
surplus surprise surrender surveillance survey survival survivor
suspect suspension suspicion sustainability syllable symbol
symmetry sympathy symptom syndrome synthesis syntax system table
tactic tag tail tailor talent talk tank tape target tariff task
taste tax taxonomy taxpayer teacher teaching team teamwork
technique technology temper temperature template temple tempo
tenant tendency tender tenure term terminal termination
terminology territory terror terrorism terrorist test testament
testimony text textbook texture thanks theater theft theme theology
theorem theory therapist therapy thesis thief thing thinker
thinking thought threat threshold thrill throat throughput thumb
ticket tie timeline timeout timestamp timing tip tissue title
token tolerance toll tone tongue tool toolkit tooth topic topology
torture total touch tour tourism tourist tournament tower town
trace track trade trademark tradition traffic tragedy trainer
training trait traitor transaction transcript transfer
transformation transit transition translation translator
transmission transparency transplant transport transportation trap
trauma travel traveler treasurer treasury treatment treaty tree
trend trial tribunal tribute trick trigger trip triumph troop
trophy trouble truce truck trust trustee truth tuition tune turn
turnaround turnout turnover tutorial type typing tyranny
uncertainty underdog understanding undertaking unemployment
uniform union unit unity universe university update upgrade upload
uprising upset usage use user utility vacancy vacation
vaccination vaccine validation validity variable variance
variation variety vegetable vehicle velocity vendor venture venue
verdict verification verse version vessel veteran veto vicinity
victim victory view viewer viewpoint village villain violation
violence virtue virus visa visibility vision visit visitor
vitality vocabulary voice void volume volunteer vote voter voting
voucher vulnerability wage walk wall war ward warehouse warfare
warmth warning warrant warranty warrior waste watch water
watershed wave wealth weapon weather web website wedding week
weekend weight welfare wellness wheel whisper wholesaler width
wildlife will window wine winner winter wire wisdom wish
withdrawal witness wonder word work worker workflow workforce
workload workout workplace workshop world worry worship worth
wound wrapper writer writing yard year yield youth zone
""".split()


def _load_lexicon() -> frozenset:
    path = os.environ.get("RAG_WORDNET_NOUNS")
    if path and os.path.exists(path):
        with open(path, encoding="utf-8") as f:
            words = [ln.strip().lower() for ln in f if ln.strip()]
        base = set(words)
    else:
        base = set(_BUILTIN_NOUNS)
    for lemmas in _NOUN_EXC.values():
        base.update(lemmas)
    return frozenset(base)


_LEXICON = _load_lexicon()


def _apply_rules(forms: list[str]) -> list[str]:
    return [f[: -len(old)] + new
            for f in forms for old, new in _NOUN_RULES if f.endswith(old)]


def _filter(forms: list[str]) -> list[str]:
    seen, out = set(), []
    for f in forms:
        if f in _LEXICON and f not in seen:
            out.append(f)
            seen.add(f)
    return out


def morphy(form: str) -> list[str]:
    """All validated noun lemma candidates (nltk ``wordnet._morphy``)."""
    if form in _NOUN_EXC:
        results = _filter([form] + _NOUN_EXC[form])
        if results:
            return results
    forms = _apply_rules([form])
    results = _filter([form] + forms)
    if results:
        return results
    while forms:
        forms = _apply_rules(forms)
        results = _filter(forms)
        if results:
            return results
    return []


def lemmatize(word: str) -> str:
    """``WordNetLemmatizer().lemmatize(word)`` with the default noun pos:
    shortest validated candidate, or the word unchanged."""
    if word not in _NOUN_EXC and not word.endswith(_NOUN_SUFFIXES):
        # no rule applies, so the only candidate is the word itself
        return word
    lemmas = morphy(word)
    return min(lemmas, key=len) if lemmas else word
